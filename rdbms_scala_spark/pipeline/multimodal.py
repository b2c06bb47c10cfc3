"""Multimodal columns: opaque binary payloads + typed metadata
(north-star extension).

The decode step is REAL, stdlib-only: payloads are synthesized as
valid PNG (zlib-compressed IDAT, CRC'd chunks), WAV (RIFF/fmt/data)
and MP4 (ftyp + moov/mvhd boxes) containers whose parameters derive
deterministically from doc_id, and ``parse_media_header`` reads the
dimensions / sample rate / duration back out of the bytes — so the
decode oracle can predict every parsed field arithmetically. Only the
*embedding* half of feature extraction remains a deterministic
sha256 fake (a stand-in for an image/audio model, which no stdlib
provides); swap ``_fake_features`` for a model call to productionize.
The Spark-side plumbing is the 100 TB shape throughout: binary
columns, metadata structs, Arrow-batched ``mapInPandas`` with
explicit output schemas and partition-sized batches.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.pipeline.dedup import closure_ctes, connected_components_edges
from rdbms_scala_spark.registry import register
from rdbms_scala_spark.session import release, session_relation

FEATURE_DIM = 8

# Repo root, captured driver-side as a plain string: UDF closures ship
# it to Python workers (whose sys.path lacks this repo when the driver
# imported us from a file path) so they can import the codec helpers.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------------------
# stdlib media codecs: synthesize valid containers, parse them back


def synth_payload(doc_id: int) -> bytes:
    """Deterministic, *valid* media container for a doc_id.

    - doc_id % 3 == 0 -> PNG, grayscale, width/height from doc_id
    - doc_id % 3 == 1 -> WAV, PCM16, rate/channels/samples from doc_id
    - else            -> MP4, ftyp(isom) + moov/mvhd with ms duration
    """
    m = doc_id % 3
    if m == 0:
        width = 8 + doc_id % 24
        height = 8 + doc_id % 16

        def chunk(tag: bytes, body: bytes) -> bytes:
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body))
            )

        ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
        raw = b"".join(
            b"\x00" + bytes((doc_id + row) % 256 for _ in range(width))
            for row in range(height)
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
    if m == 1:
        rate = (8000, 16000, 22050, 44100)[doc_id % 4]
        channels = 1 + doc_id % 2
        n_samples = 100 + doc_id % 400
        data = b"\x00\x00" * (n_samples * channels)
        fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
        body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body
    duration_ms = 1000 + doc_id % 5000

    def box(tag: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + tag + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isom" + b"mp41")
    mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, 1000, duration_ms) + b"\x00" * 80)
    return ftyp + box(b"moov", mvhd)


def parse_media_header(payload: bytes) -> dict:
    """Parse container metadata out of raw bytes — stdlib only.

    Returns mime plus (-1 / '' where not applicable): width, height,
    sample_rate, duration_us for audio, duration_ms for video, brand.

    Corrupt/truncated payloads (PNG shorter than its IHDR, WAV with a
    short fmt chunk, …) degrade to the octet-stream default instead of
    raising: at 100 TB one bad file must not fail the whole
    ``mapInPandas`` task, so each per-format parser is wrapped and any
    struct/bounds error falls through to the generic answer.
    """
    out = {
        "mime": "application/octet-stream",
        "width": -1,
        "height": -1,
        "sample_rate": -1,
        "duration_us": -1,
        "brand": "",
    }
    try:
        return _parse_media_header_strict(payload, out)
    except (struct.error, IndexError, ValueError):
        return out


def _parse_media_header_strict(payload: bytes, out: dict) -> dict:
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        # chunk layout: len(4) tag(4) body; IHDR is first
        if payload[12:16] == b"IHDR":
            width, height = struct.unpack(">II", payload[16:24])
            out.update(mime="image/png", width=width, height=height)
        return out
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos, rate, block_align, data_len = 12, -1, -1, -1
        while pos + 8 <= len(payload):
            tag = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            if tag == b"fmt ":
                _, _, rate, _, block_align, _ = struct.unpack(
                    "<HHIIHH", payload[pos + 8 : pos + 24]
                )
            elif tag == b"data":
                data_len = size
            pos += 8 + size + (size & 1)
        if rate > 0 and block_align > 0 and data_len >= 0:
            n_samples = data_len // block_align
            out.update(
                mime="audio/wav",
                sample_rate=rate,
                duration_us=n_samples * 1_000_000 // rate,
            )
        return out
    # ISO-BMFF: walk top-level boxes, then moov's children for mvhd
    def walk(buf: bytes, start: int, end: int):
        pos = start
        while pos + 8 <= end:
            (size,) = struct.unpack(">I", buf[pos : pos + 4])
            if size < 8:
                return
            yield buf[pos + 4 : pos + 8], pos + 8, pos + size
            pos += size

    if payload[4:8] == b"ftyp":
        out["mime"] = "video/mp4"
        out["brand"] = payload[8:12].decode("ascii", "replace")
        for tag, body_start, body_end in walk(payload, 0, len(payload)):
            if tag == b"moov":
                for t2, s2, _e2 in walk(payload, body_start, body_end):
                    if t2 == b"mvhd":
                        timescale, duration = struct.unpack(
                            ">II", payload[s2 + 12 : s2 + 20]
                        )
                        if timescale:
                            out["duration_us"] = duration * 1_000_000 // timescale
    return out


@register(
    "multimodal_ingest",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text))    AS n_bytes,
           sha256(text)                  AS payload_sha256,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END     AS mime
    FROM documents
    """,
    tags=("multimodal", "binary"),
)
def multimodal_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest documents as opaque binary payloads with typed metadata —
    the storage pattern for multimodal data at scale: payload stays an
    unparsed ``binary`` column (Parquet keeps it out of row-group
    stats), metadata is a small struct that filters/partitions cheaply.
    The mime tag is synthesized deterministically (no real media in the
    testdata)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    mime = (
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
    )
    with_meta = docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            mime.alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
        ).alias("meta"),
    )
    return with_meta.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("payload_sha256"),
        F.col("meta.mime").alias("mime"),
    )


def _feature_seed(doc_id: int, meta: dict) -> str:
    """Canonical seed string for the fake embedding: the doc id plus
    every field the real container decode produced, '|'-joined. Built
    from *decoded* metadata (not raw payload bytes) so an ANSI-SQL
    oracle can reproduce the seed arithmetically — sha256 of this
    string is then engine-independent (DuckDB's ``sha256`` and
    hashlib agree byte-for-byte)."""
    return (
        f"{doc_id}|{meta['mime']}|{meta['width']}|{meta['height']}"
        f"|{meta['sample_rate']}|{meta['duration_us']}|{meta['brand']}"
    )


def _fake_features(seed: str) -> list[float]:
    """Deterministic fake embedding: sha256-seeded values in [0, 1).
    Stands in for an image/audio embedding *model* (the only part of
    the pipeline with no stdlib implementation); the container decode
    that produces the seed is real (see parse_media_header)."""
    h = hashlib.sha256(seed.encode()).digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(FEATURE_DIM)]


@register(
    "multimodal_decode",
    # Every parsed field is a deterministic function of doc_id, so the
    # oracle re-derives them arithmetically — proving the synthesized
    # containers round-trip through the real stdlib parsers.
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS mime,
           CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 24 ELSE -1 END AS width,
           CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 16 ELSE -1 END AS height,
           CASE WHEN doc_id % 3 = 1
                THEN [8000, 16000, 22050, 44100][(doc_id % 4) + 1]
                ELSE -1 END AS sample_rate,
           CASE WHEN doc_id % 3 = 1
                THEN (100 + doc_id % 400) * 1000000
                     // [8000, 16000, 22050, 44100][(doc_id % 4) + 1]
                WHEN doc_id % 3 = 2 THEN (1000 + doc_id % 5000) * 1000
                ELSE -1 END AS duration_us,
           CASE WHEN doc_id % 3 = 2 THEN 'isom' ELSE '' END AS brand
    FROM documents
    """,
    tags=("multimodal", "decode", "pandas-udf"),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real media decode over binary payloads: synthesize a valid
    PNG/WAV/MP4 container per document (parameters derived from
    doc_id), then parse dimensions / sample rate / duration back out
    of the *bytes* with the stdlib header parsers — all inside one
    Arrow-batched ``mapInPandas`` pass, the shape a 100 TB decode job
    takes (fixed-memory batches, per-payload decode, declared output
    schema). The reference has no binary/media types at all (its five
    scalar types: Microbase.scala:28-35); this is the north-star
    multimodal extension."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id")
    pkg_root = _PKG_ROOT

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from rdbms_scala_spark.pipeline.multimodal import (
            parse_media_header,
            synth_payload,
        )

        for pdf in batches:
            metas = [parse_media_header(synth_payload(int(d))) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in metas],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "sample_rate": [m["sample_rate"] for m in metas],
                    "duration_us": [m["duration_us"] for m in metas],
                    "brand": [m["brand"] for m in metas],
                }
            )

    return src.mapInPandas(
        decode,
        schema="doc_id long, mime string, width long, height long, "
        "sample_rate long, duration_us long, brand string",
    )


def multimodal_features_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via Arrow-batched
    ``mapInPandas``: real stdlib container decode (mime + parsed
    metadata ride along with the vector) plus the deterministic fake
    embedding standing in for a model call, seeded by the decoded
    metadata (:func:`_feature_seed`).

    Library form: returns ``features array<double>`` for programmatic
    use (similarity search, training pipelines). The REGISTERED
    ``multimodal_features`` query emits the full decoded metadata and
    a hex signature of the same vector instead, so every column is a
    scalar the driver hash canonicalizes AND derivable in ANSI SQL."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id")
    pkg_root = _PKG_ROOT

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from rdbms_scala_spark.pipeline.multimodal import (
            _fake_features,
            _feature_seed,
            parse_media_header,
            synth_payload,
        )

        for pdf in batches:
            payloads = [synth_payload(int(d)) for d in pdf["doc_id"]]
            metas = [parse_media_header(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in metas],
                    "n_bytes": [len(p) for p in payloads],
                    "features": [
                        _fake_features(_feature_seed(int(d), m))
                        for d, m in zip(pdf["doc_id"], metas)
                    ],
                }
            )

    return src.mapInPandas(
        extract,
        schema="doc_id long, mime string, n_bytes long, features array<double>",
    )


def _features_oracle() -> str:
    """Full cross-engine oracle for ``multimodal_features``: every
    metadata column re-derived arithmetically (proving the stdlib
    containers round-trip through the real parsers, as in
    ``multimodal_decode``), and the feature signature reproduced as
    sha256 over the same canonical seed — 8 big-endian uint32 hex
    chunks, exactly the bytes the fake embedding divides by 2^32."""
    chunks = ", ".join(
        f"substring(sha, {8 * i + 1}, 8)" for i in range(FEATURE_DIM)
    )
    return f"""
    WITH meta AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS mime,
               CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 24 ELSE -1 END AS width,
               CASE WHEN doc_id % 3 = 0 THEN 8 + doc_id % 16 ELSE -1 END AS height,
               CASE WHEN doc_id % 3 = 1
                    THEN [8000, 16000, 22050, 44100][(doc_id % 4) + 1]
                    ELSE -1 END AS sample_rate,
               CASE WHEN doc_id % 3 = 1
                    THEN (100 + doc_id % 400) * 1000000
                         // [8000, 16000, 22050, 44100][(doc_id % 4) + 1]
                    WHEN doc_id % 3 = 2 THEN (1000 + doc_id % 5000) * 1000
                    ELSE -1 END AS duration_us,
               CASE WHEN doc_id % 3 = 2 THEN 'isom' ELSE '' END AS brand
        FROM documents
    ),
    hashed AS (
        SELECT *,
               sha256(doc_id || '|' || mime || '|' || width || '|' || height
                      || '|' || sample_rate || '|' || duration_us || '|' || brand)
               AS sha
        FROM meta
    )
    SELECT doc_id, mime,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(duration_us AS BIGINT) AS duration_us,
           brand,
           concat_ws(',', {chunks}) AS features_sig
    FROM hashed
    """


@register(
    "multimodal_features",
    oracle=_features_oracle(),
    tags=("multimodal", "pandas-udf"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate form of the multimodal feature-extraction pass: one
    Arrow-batched ``mapInPandas`` decode emits the full parsed
    metadata (real stdlib container decode) plus ``features_sig`` —
    the fake embedding's sha256 state as comma-joined 8-hex-char
    chunks (chunk i, read as a big-endian uint32 / 2^32, IS dimension
    i of :func:`multimodal_features_array`'s vector). Hex chunks
    rather than formatted floats keep the signature integer-exact, so
    the DuckDB oracle (:func:`_features_oracle`) covers every output
    column — this query was rows-only until round 7."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id")
    pkg_root = _PKG_ROOT

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from rdbms_scala_spark.pipeline.multimodal import (
            _feature_seed,
            parse_media_header,
            synth_payload,
        )

        def sig(seed: str) -> str:
            hx = _hashlib.sha256(seed.encode()).hexdigest()
            return ",".join(hx[8 * i : 8 * i + 8] for i in range(FEATURE_DIM))

        for pdf in batches:
            metas = [parse_media_header(synth_payload(int(d))) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": [m["mime"] for m in metas],
                    "width": [m["width"] for m in metas],
                    "height": [m["height"] for m in metas],
                    "sample_rate": [m["sample_rate"] for m in metas],
                    "duration_us": [m["duration_us"] for m in metas],
                    "brand": [m["brand"] for m in metas],
                    "features_sig": [
                        sig(_feature_seed(int(d), m))
                        for d, m in zip(pdf["doc_id"], metas)
                    ],
                }
            )

    return src.mapInPandas(
        extract,
        schema="doc_id long, mime string, width long, height long, "
        "sample_rate long, duration_us long, brand string, features_sig string",
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH meta AS (
        SELECT doc_id, (doc_id % 120) + 1 AS n_frames
        FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id, n_frames, unnest(range(0, n_frames, 10)) AS frame_idx
    FROM meta
    """,
    tags=("multimodal", "video"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling plan for 'video' payloads: every 10th frame
    index from deterministic per-doc frame counts — the explode
    pattern that fans one video row out to its decode tasks (each
    frame_idx row becomes one decoder invocation downstream)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 2)
    meta = docs.select("doc_id", ((F.col("doc_id") % 120) + 1).alias("n_frames"))
    return meta.select(
        "doc_id",
        "n_frames",
        F.explode(F.expr("sequence(0, n_frames - 1, 10)")).alias("frame_idx"),
    )


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup: the bridge between the multimodal
# tier (real PNG decode) and the dedup tier (banded LSH + verify).

# aHash banding/verify parameters. 4 bands of 16 bits over the 64-bit
# hash: two near-dup images differing in <= 2 of the 8 pooled grid
# rows still agree on >= 2 bands (each grid row lives in exactly one
# band), so banding recalls them without an all-pairs scan.
PHASH_BUCKET_CAP = 50
PHASH_HAMMING_MAX = 16


def synth_image_png(doc_id: int) -> bytes:
    """Deterministic *valid* grayscale PNG with 2-D content for the
    perceptual-hash tier. Unlike :func:`synth_payload`'s stripe
    images (constant rows — degenerate for pooled hashing), pixels
    vary in both axes, and near-duplicate structure is planted:
    images share a content key ``doc_id // 12`` (so the up-to-4
    image docs per key are the same base picture) and differ only in
    one brightened row (``+128`` at row ``doc_id % height``) — the
    "same photo, small edit" case perceptual hashing exists for.

    Pixel formula (everything the arithmetic oracle needs):
    ``v(r, c) = (ckey*37 + r*11 + c*7 + (128 if r == doc_id % h)) % 256``
    with ``w = 8 + doc_id % 24``, ``h = 8 + doc_id % 16``.
    """
    w = 8 + doc_id % 24
    h = 8 + doc_id % 16
    ckey = doc_id // 12
    pert = doc_id % h

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00"
        + bytes(
            (ckey * 37 + r * 11 + c * 7 + (128 if r == pert else 0)) % 256
            for c in range(w)
        )
        for r in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png_gray(payload: bytes):
    """Real stdlib PNG decode: IHDR dims, concatenated-IDAT zlib
    inflate, per-scanline filter-byte strip (the synthesizers emit
    filter 0 only) -> int64 numpy array of shape (h, w)."""
    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", payload[16:24])
    pos, idat = 8, b""
    while pos + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += payload[pos + 8 : pos + 8 + size]
        pos += 12 + size
    raw = zlib.decompress(idat)
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)
    if (arr[:, 0] != 0).any():
        raise ValueError("unsupported PNG scanline filter")
    return arr[:, 1:].astype(np.int64)


def ahash64_bands(img) -> list[int]:
    """Integer-exact average hash over an 8x8 pooled grid, returned
    as 4 x 16-bit LSH band values (band b holds hash bits 16b..16b+15;
    bit index i = grid_row*8 + grid_col).

    Pixel (r, c) pools into grid cell (r*8//h, c*8//w); a cell's bit
    is set iff its mean exceeds the image mean, compared exactly via
    cross-multiplied integer sums (``cell_sum * n_pixels >
    total_sum * cell_count``) so a SQL oracle reproduces every bit
    with no float rounding."""
    import numpy as np

    h, w = img.shape
    gr = (np.arange(h) * 8) // h
    gc = (np.arange(w) * 8) // w
    cells = np.zeros((8, 8), np.int64)
    counts = np.zeros((8, 8), np.int64)
    np.add.at(cells, (gr[:, None], gc[None, :]), img)
    np.add.at(counts, (gr[:, None], gc[None, :]), np.ones_like(img))
    ts, tn = int(img.sum()), h * w
    bits = (cells * tn > ts * counts).astype(np.int64).ravel()
    bands = [0, 0, 0, 0]
    for i, b in enumerate(bits):
        bands[i // 16] |= int(b) << (i % 16)
    return bands


_PHASH_ORACLE = f"""
WITH img AS (
    SELECT doc_id, 8 + doc_id % 24 AS w, 8 + doc_id % 16 AS h,
           doc_id // 12 AS ckey, doc_id % (8 + doc_id % 16) AS pert
    FROM documents WHERE doc_id % 3 = 0
), rws AS (
    SELECT doc_id, w, h, ckey, pert, unnest(range(h)) AS r FROM img
), px AS MATERIALIZED (
    SELECT doc_id, w, h, r, c,
           (ckey*37 + r*11 + c*7
            + CASE WHEN r = pert THEN 128 ELSE 0 END) % 256 AS v
    FROM (SELECT *, unnest(range(w)) AS c FROM rws)
), cell AS (
    SELECT doc_id, (r*8)//h AS grow, (c*8)//w AS gcol,
           sum(v) AS s, count(*) AS n
    FROM px GROUP BY ALL
), tot AS (
    SELECT doc_id, sum(v) AS ts, count(*) AS tn FROM px GROUP BY doc_id
), bits AS (
    SELECT cell.doc_id, grow*8 + gcol AS i,
           CASE WHEN s*tn > ts*n THEN 1 ELSE 0 END AS b
    FROM cell JOIN tot ON cell.doc_id = tot.doc_id
), bands AS MATERIALIZED (
    SELECT doc_id, i//16 AS band_idx,
           CAST(sum(b * (CAST(1 AS BIGINT) << (i % 16))) AS BIGINT) AS band_val
    FROM bits GROUP BY doc_id, i//16
), wide AS MATERIALIZED (
    SELECT doc_id,
           max(CASE WHEN band_idx = 0 THEN band_val END) AS band0,
           max(CASE WHEN band_idx = 1 THEN band_val END) AS band1,
           max(CASE WHEN band_idx = 2 THEN band_val END) AS band2,
           max(CASE WHEN band_idx = 3 THEN band_val END) AS band3
    FROM bands GROUP BY doc_id
), capped AS (
    SELECT band_idx, band_val FROM bands
    GROUP BY band_idx, band_val
    HAVING count(*) <= {PHASH_BUCKET_CAP}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN capped k ON a.band_idx = k.band_idx AND a.band_val = k.band_val
    JOIN bands b ON b.band_idx = a.band_idx AND b.band_val = a.band_val
                AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
          + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3))
            AS BIGINT) AS hamming
FROM cand c
JOIN wide x ON x.doc_id = c.doc_a
JOIN wide y ON y.doc_id = c.doc_b
WHERE bit_count(xor(x.band0, y.band0)) + bit_count(xor(x.band1, y.band1))
    + bit_count(xor(x.band2, y.band2)) + bit_count(xor(x.band3, y.band3))
    <= {PHASH_HAMMING_MAX}
"""


def cached_phash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-image (doc_id, band0..band3) aHash relation, a session
    relation — the decode+hash ``mapInPandas`` pass is the dominant
    cost of the phash tier and referencing the lazy plan from both
    sides of the LSH self-join (plus the two verify probes) would
    re-decode every image up to 6x per run. At 100 TB the persisted
    analog is a signature table refreshed with the image corpus."""
    return session_relation(
        spark, "phash_bands", sf_dir, "documents", lambda: _phash_bands_build(spark, sf_dir)
    )


def _phash_bands_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    src = docs.select("doc_id")
    pkg_root = _PKG_ROOT

    def hash_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from rdbms_scala_spark.pipeline.multimodal import (
            ahash64_bands,
            decode_png_gray,
            synth_image_png,
        )

        for pdf in batches:
            rows = [
                ahash64_bands(decode_png_gray(synth_image_png(int(d))))
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "band0": [r[0] for r in rows],
                    "band1": [r[1] for r in rows],
                    "band2": [r[2] for r in rows],
                    "band3": [r[3] for r in rows],
                }
            )

    return src.mapInPandas(
        hash_images,
        schema="doc_id long, band0 long, band1 long, band2 long, band3 long",
    )


@register(
    "dedup_image_phash",
    oracle=_PHASH_ORACLE,
    tags=("multimodal", "dedup", "pandas-udf", "lsh"),
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual hash — the MinHash
    pattern transposed to pixels, bridging the multimodal and dedup
    tiers (the reference has neither binary types nor dedup;
    Microbase.scala:28-35).

    Plan (the 100 TB shape end to end):

    1. One Arrow-batched ``mapInPandas`` pass synthesizes each image
       doc's PNG, REALLY decodes it (zlib inflate + filter strip,
       :func:`decode_png_gray`), and pools it to an integer-exact
       64-bit aHash emitted as 4 x 16-bit band values — decode cost
       is embarrassingly parallel, no shuffle.
    2. Banded LSH: unpivot to (band_idx, band_val), purge buckets
       over ``PHASH_BUCKET_CAP`` docs (mass-dup/degenerate hashes
       would otherwise explode the pair space quadratically — the
       same df-cap stance as the MinHash tier), self-join within
       buckets for candidate pairs. The join key is (band_idx,
       band_val) — never all-pairs.
    3. Hamming verify JVM-side: ``bit_count(a XOR b)`` over the four
       bands, keep pairs within ``PHASH_HAMMING_MAX``.

    The DuckDB oracle replays the whole chain arithmetically: pixel
    values are a closed-form function of doc_id (see
    :func:`synth_image_png`), so the oracle rebuilds every pixel with
    ``unnest(range())``, re-pools with the same cross-multiplied
    integer comparison, and re-runs banding + capping + Hamming in
    SQL — proving the real decode round-trips AND the LSH recall set
    matches exactly. The decode+hash pass materializes once per
    session (:func:`cached_phash_bands`), not once per plan branch."""
    wide = cached_phash_bands(spark, sf_dir)
    bands = wide.selectExpr(
        "doc_id",
        "stack(4, 0L, band0, 1L, band1, 2L, band2, 3L, band3)"
        " AS (band_idx, band_val)",
    )
    capped = (
        bands.groupBy("band_idx", "band_val")
        .count()
        .filter(F.col("count") <= PHASH_BUCKET_CAP)
        .select("band_idx", "band_val")
    )
    in_bucket = bands.join(capped, ["band_idx", "band_val"])
    a = in_bucket.select(
        "band_idx", "band_val", F.col("doc_id").alias("doc_a")
    )
    b = in_bucket.select(
        "band_idx", "band_val", F.col("doc_id").alias("doc_b")
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"band{i}").alias(f"a{i}") for i in range(4)],
    )
    y = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"band{i}").alias(f"b{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))) for i in range(4)
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= PHASH_HAMMING_MAX)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
    )


_PHASH_CC_ORACLE = f"""
    {closure_ctes('phash_pairs', _PHASH_ORACLE)}
    SELECT u AS doc_id, least(u, min(v)) AS component_id
    FROM reach
    GROUP BY u
    ORDER BY doc_id
"""


@register(
    "multimodal_phash_clusters",
    oracle=_PHASH_CC_ORACLE,
    tags=("multimodal", "dedup", "graph", "iterative"),
)
def multimodal_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure over the perceptual-hash near-dup pairs:
    images chained by small edits (A~B, B~C) collapse into one
    cluster labeled by its minimum doc_id — the keeper rule for image
    dedup, exactly as `dedup_connected_components` is for text. Runs
    the shared alternating-star CC (O(log n) shuffle rounds,
    dedup.py:connected_components_edges) over `dedup_image_phash`'s
    verified pair set (which reuses the session-materialized hash
    relation, so a session running both pays the decode once). The
    oracle replays pixel -> hash -> band -> verify -> reachability
    fixpoint end to end in one recursive CTE."""
    pairs = dedup_image_phash(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = connected_components_edges(pairs)
    return labels.select("doc_id", "component_id").orderBy("doc_id")


_KCORE_K = 4
_KCORE_ORACLE_ROUNDS = 16  # unroll margin; fixture converges in 7


def _kcore_oracle() -> str:
    """Unrolled peeling oracle: each round drops nodes with in-core
    degree < k and keeps only edges between survivors. Peeling is
    monotone (rounds past the fixpoint are no-ops), so unrolling MORE
    rounds than the fixpoint needs is safe; unrolling fewer would
    mismatch the Spark side's true fixpoint and fail the gate — the
    margin is asserted by test_kcore_fixpoint_within_oracle_margin."""
    parts = [
        f"WITH phash_pairs AS MATERIALIZED ({_PHASH_ORACLE}),",
        """e0 AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v FROM phash_pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM phash_pairs
    )""",
    ]
    for r in range(_KCORE_ORACLE_ROUNDS):
        parts.append(f"""d{r} AS MATERIALIZED (
        SELECT u, count(*) AS c FROM e{r} GROUP BY u
    )""")
        parts.append(f"""e{r + 1} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{r} e
        JOIN d{r} a ON a.u = e.u AND a.c >= {_KCORE_K}
        JOIN d{r} b ON b.u = e.v AND b.c >= {_KCORE_K}
    )""")
    body = ",\n    ".join(parts[1:])
    last = f"e{_KCORE_ORACLE_ROUNDS}"
    return f"""
    {parts[0]}
    {body}
    SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM {last}
    GROUP BY u
    ORDER BY doc_id
    """


@register(
    "graph_kcore",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "multimodal"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=4) of the image near-dup graph by
    iterative peeling: repeatedly drop nodes whose degree within the
    surviving subgraph falls below k, until stable — the standard
    densest-region extractor (a 4-core member has >= 4 near-dup
    neighbors that THEMSELVES survive the same test, so cores mark
    template/boilerplate image families the way high raw degree
    alone cannot: a hub with degree 50 whose neighbors are all
    leaves peels away in round 2).

    Scale shape per round: one degree aggregate + two semi-joins,
    all keyed on node id — the CC/PageRank shuffle pattern; rounds
    are O(peeling depth), each over a SHRINKING edge set, with
    ``localCheckpoint`` truncating lineage. Convergence probe is a
    single edge count (peeling is monotone, so an unchanged count IS
    the fixpoint). The oracle unrolls more peel rounds than the
    fixpoint needs (monotonicity makes over-unrolling a no-op) over
    the same verified phash pairs."""
    pairs = dedup_image_phash(spark, sf_dir).select("doc_a", "doc_b")
    E = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        # lazy: count() below is the materializing action (r15 — eager
        # checkpointing doubled every peel round's job count)
        .localCheckpoint(eager=False)
    )
    n_edges = E.count()
    for _ in range(_KCORE_ORACLE_ROUNDS):
        if n_edges == 0:
            break
        deg = E.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
        keep = deg.filter(F.col("c") >= _KCORE_K).select("u")
        nxt = (
            E.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)  # nxt.count() materializes it
        )
        cur = nxt.count()
        release(E)  # superseded: nxt's checkpoint cut its lineage
        E = nxt
        if cur == n_edges:
            break
        n_edges = cur
    else:
        raise RuntimeError(
            f"k-core did not converge within {_KCORE_ORACLE_ROUNDS} rounds "
            "(oracle unroll margin exceeded)"
        )
    return (
        E.groupBy(F.col("u").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round 10: audio signal analysis over binary PCM payloads — framed
# RMS energy + zero-crossing rate, the two cheapest features every
# audio curation pipeline computes first (silence / clipping / noise
# triage before any model touches the bytes).

_AUDIO_N_SAMPLES = 2048
_AUDIO_FRAME = 256
_AUDIO_RATE = 16000


def synth_pcm_wav(doc_id: int) -> bytes:
    """Valid mono 16-bit RIFF/WAV whose PCM samples follow the LCG
    s_i = ((doc_id * 1103515245 + i * 12345) % 65536) - 32768 — a
    full-scale deterministic signal (unlike :func:`synth_payload`'s
    silent WAVs) that an ANSI-SQL oracle replays with
    generate_series. The container is real: the analysis UDF parses
    the RIFF chunk walk to find the data payload, it does not assume
    an offset."""
    import numpy as np

    i = np.arange(_AUDIO_N_SAMPLES, dtype=np.int64)
    s = ((doc_id * 1103515245 + i * 12345) % 65536) - 32768
    data = s.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, 1, _AUDIO_RATE, _AUDIO_RATE * 2, 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_pcm16(payload: bytes):
    """int16 numpy array of the data chunk of a mono PCM16 WAV — a
    real RIFF walk (tag + little-endian size, word-aligned), the same
    traversal ``parse_media_header`` uses."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if tag == b"data":
            return np.frombuffer(payload, "<i2", count=size // 2, offset=pos + 8)
        pos += 8 + size + (size & 1)
    raise ValueError("no data chunk")


@register(
    "multimodal_audio_energy",
    oracle=f"""
    WITH ids AS (
        SELECT doc_id FROM documents WHERE doc_id % 3 = 1
    ),
    samp AS (
        SELECT doc_id, i,
               ((doc_id * 1103515245 + i * 12345) % 65536) - 32768 AS s
        FROM ids CROSS JOIN generate_series(0, {_AUDIO_N_SAMPLES - 1}) AS t(i)
    ),
    zc AS (
        SELECT doc_id, i // {_AUDIO_FRAME} AS frame, s,
               lag(s) OVER (
                   PARTITION BY doc_id, i // {_AUDIO_FRAME} ORDER BY i
               ) AS prev
        FROM samp
    ),
    agg AS (
        SELECT doc_id, CAST(frame AS BIGINT) AS frame,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
               CAST(count(*) FILTER (
                   WHERE prev IS NOT NULL AND prev * s < 0
               ) AS BIGINT) AS zero_crossings
        FROM zc GROUP BY doc_id, frame
    )
    SELECT doc_id, frame, n_samples, energy, zero_crossings,
           round(sqrt(energy / {_AUDIO_FRAME}.0), 4) AS rms
    FROM agg
    ORDER BY doc_id, frame
    """,
    tags=("multimodal", "audio", "pandas-udf"),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed audio analysis over binary WAV payloads: synthesize a
    full-scale deterministic PCM16 container per audio doc
    (:func:`synth_pcm_wav`), parse the RIFF data chunk back out of
    the BYTES, frame the signal (256-sample frames) and
    compute per-frame energy (exact int64 sum of squares),
    zero-crossing count (strict sign-product test, so exact-zero
    samples never count) and RMS — all inside one Arrow-batched
    ``mapInPandas`` pass. This is the audio member of the multimodal
    family next to the image path (`dedup_image_phash`): decode and
    vectorized per-frame math run where the bytes live; only
    fixed-size integer rows leave the worker.

    Float discipline: the UDF emits INTEGER columns only; the RMS
    (the lone float) is computed JVM-side as
    round(sqrt(energy / frame), 4), so rounding semantics match the
    oracle exactly (pandas' round is banker's, Spark/DuckDB are not).

    Scale shape: map-only — no shuffle until the final presentation
    sort; per-batch memory is bounded by batch_rows x n_samples
    int16s; a 100 TB audio corpus streams through at scan speed with
    decode amortized across Arrow batches."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.filter(F.col("doc_id") % 3 == 1).select("doc_id")
    pkg_root = _PKG_ROOT

    def analyze(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        import numpy as np

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from rdbms_scala_spark.pipeline.multimodal import (
            synth_pcm_wav,
            wav_pcm16,
        )

        n_frames = _AUDIO_N_SAMPLES // _AUDIO_FRAME
        for pdf in batches:
            out = {
                "doc_id": [],
                "frame": [],
                "n_samples": [],
                "energy": [],
                "zero_crossings": [],
            }
            for d in pdf["doc_id"]:
                s = (
                    wav_pcm16(synth_pcm_wav(int(d)))
                    .astype(np.int64)
                    .reshape(n_frames, _AUDIO_FRAME)
                )
                energy = (s * s).sum(axis=1)
                zcr = ((s[:, :-1] * s[:, 1:]) < 0).sum(axis=1)
                out["doc_id"].extend([int(d)] * n_frames)
                out["frame"].extend(range(n_frames))
                out["n_samples"].extend([_AUDIO_FRAME] * n_frames)
                out["energy"].extend(int(e) for e in energy)
                out["zero_crossings"].extend(int(z) for z in zcr)
            yield pd.DataFrame(out)

    res = src.mapInPandas(
        analyze,
        schema="doc_id long, frame long, n_samples long, "
        "energy long, zero_crossings long",
    )
    return res.select(
        "doc_id",
        "frame",
        "n_samples",
        "energy",
        "zero_crossings",
        F.round(F.sqrt(F.col("energy") / F.lit(float(_AUDIO_FRAME))), 4).alias(
            "rms"
        ),
    ).orderBy("doc_id", "frame")


# ---------------------------------------------------------------------------
# Round 11: REAL image resize — the remaining member of the
# decode / feature-extract / resize / frame-sample quartet. The synth
# PNGs are genuine (zlib-compressed, filter-0 scanlines), so the
# resize path decodes actual pixels with the stdlib and the oracle
# re-derives every output arithmetically from the synth formula —
# the same proof structure as `multimodal_decode`.


_THUMB = 8


def decode_png_pixels(payload: bytes) -> tuple[int, int, list[bytes]] | None:
    """Full PNG pixel decode for the 8-bit grayscale / filter-0
    subset the synth containers use: walk chunks, concatenate IDAT
    bodies, zlib-decompress, strip the per-scanline filter byte.
    Returns (width, height, rows) or None for anything outside the
    supported subset (wrong signature, color type, bit depth, or a
    non-zero scanline filter) — the degrade-don't-raise stance of
    `parse_media_header`, since at 100 TB one odd file must not fail
    the task."""
    try:
        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos, width, height, idat = 8, -1, -1, b""
        while pos + 8 <= len(payload):
            (size,) = struct.unpack(">I", payload[pos : pos + 4])
            tag = payload[pos + 4 : pos + 8]
            body = payload[pos + 8 : pos + 8 + size]
            if tag == b"IHDR":
                width, height, depth, color = struct.unpack(">IIBB", body[:10])
                if depth != 8 or color != 0:
                    return None
            elif tag == b"IDAT":
                idat += body
            elif tag == b"IEND":
                break
            pos += 12 + size  # len + tag + body + crc
        if width <= 0 or height <= 0:
            return None
        raw = zlib.decompress(idat)
        stride = width + 1
        if len(raw) != stride * height:
            return None
        rows = []
        for r in range(height):
            line = raw[r * stride : (r + 1) * stride]
            if line[0] != 0:  # only filter 0 (None) supported
                return None
            rows.append(line[1:])
        return width, height, rows
    except (struct.error, IndexError, ValueError, zlib.error):
        return None


def resize_nearest(
    width: int, height: int, rows: list[bytes], out_w: int, out_h: int
) -> bytes:
    """Nearest-neighbor downsample: out pixel (r, c) = source pixel
    (r*height//out_h, c*width//out_w) — the floor-index convention
    the oracle mirrors exactly."""
    return bytes(
        rows[r * height // out_h][c * width // out_w]
        for r in range(out_h)
        for c in range(out_w)
    )


@register(
    "multimodal_image_resize",
    # Synth pixels: row r of doc d is the constant (d + r) % 256, so
    # every resized pixel is arithmetic — the oracle recomputes the
    # thumbnail's row samples, sum, mean, and edge-row values without
    # touching bytes, proving the real decode+resize path agrees.
    oracle=f"""
    WITH png AS (
        SELECT doc_id, 8 + doc_id % 24 AS src_w, 8 + doc_id % 16 AS src_h
        FROM documents WHERE doc_id % 3 = 0
    ),
    px AS (
        SELECT doc_id, src_w, src_h, i,
               CAST((doc_id + (i * src_h) // {_THUMB}) % 256 AS BIGINT) AS v
        FROM png, generate_series(0, {_THUMB - 1}) AS t(i)
    )
    SELECT doc_id,
           CAST(src_w AS BIGINT) AS src_w,
           CAST(src_h AS BIGINT) AS src_h,
           CAST({_THUMB} AS BIGINT) AS out_w,
           CAST({_THUMB} AS BIGINT) AS out_h,
           CAST(sum(v) * {_THUMB} AS BIGINT) AS px_sum,
           round(CAST(sum(v) * {_THUMB} AS BIGINT) / {float(_THUMB * _THUMB)}, 4)
               AS px_mean,
           CAST(min(CASE WHEN i = 0 THEN v END) AS BIGINT) AS first_row_px,
           CAST(min(CASE WHEN i = {_THUMB - 1} THEN v END) AS BIGINT)
               AS last_row_px
    FROM px GROUP BY doc_id, src_w, src_h ORDER BY doc_id
    """,
    tags=("multimodal", "resize", "pandas-udf", "scale"),
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize over binary payloads: decode the synthesized
    PNG's actual pixels (chunk walk -> IDAT concat -> zlib inflate ->
    filter-byte strip, `decode_png_pixels`), nearest-neighbor
    downsample to an 8x8 thumbnail (`resize_nearest`), and emit
    per-image geometry + pixel statistics + the first/last thumbnail
    row values — all computed from the decoded BYTES inside one
    Arrow-batched mapInPandas pass, while the oracle re-derives every
    column arithmetically from the synth formula (pixel(r) =
    (doc_id + r) % 256), proving decode, index convention, and
    resample agree end-to-end. Completes the
    decode / feature-extract / resize / frame-sample quartet; unlike
    the embedding model stub in `multimodal_features`, nothing here
    is faked — the stdlib IS the image library for this subset.

    Scale shape: map-only (filter on the mime class, then one
    mapInPandas with fixed-memory batches and a declared schema); at
    100 TB the thumbnail bytes would be written back as a binary
    column in the same pass — the stats columns are the
    oracle-checkable projection of that output."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.select("doc_id").filter(F.col("doc_id") % 3 == 0)
    pkg_root = _PKG_ROOT
    thumb = _THUMB

    def job(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)
        from rdbms_scala_spark.pipeline.multimodal import (
            decode_png_pixels,
            resize_nearest,
            synth_payload,
        )

        for pdf in batches:
            rows_out = []
            for d in pdf["doc_id"]:
                decoded = decode_png_pixels(synth_payload(int(d)))
                if decoded is None:
                    continue  # outside the supported subset: skip
                w, h, rows = decoded
                t = resize_nearest(w, h, rows, thumb, thumb)
                s = sum(t)
                rows_out.append(
                    (
                        int(d),
                        w,
                        h,
                        thumb,
                        thumb,
                        s,
                        round(s / float(thumb * thumb), 4),
                        t[0],
                        t[(thumb - 1) * thumb],
                    )
                )
            yield pd.DataFrame(
                rows_out,
                columns=[
                    "doc_id",
                    "src_w",
                    "src_h",
                    "out_w",
                    "out_h",
                    "px_sum",
                    "px_mean",
                    "first_row_px",
                    "last_row_px",
                ],
            )

    return src.mapInPandas(
        job,
        schema="doc_id long, src_w long, src_h long, out_w long, out_h long, "
        "px_sum long, px_mean double, first_row_px long, last_row_px long",
    ).orderBy("doc_id")
