"""Print one line per defaulted parameter of every ``def`` in the
``rdbms_scala_spark`` package, nested functions and methods included,
sorted, then the total.

Usage: python scripts/option_census.py > census.txt

Each line is ``module:function param=default``, the module relative to
the package with dots, the default as written in the source. Diff the
output of two checkouts to see which options a change added or removed.
No Spark session is started; the package is parsed, not imported.
"""
import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "rdbms_scala_spark")


def _defaulted(fn):
    a = fn.args
    positional = a.posonlyargs + a.args
    pairs = zip(positional[len(positional) - len(a.defaults):], a.defaults)
    kwonly = ((p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    return [*pairs, *kwonly]


lines = []
for root, _, files in os.walk(PKG):
    for f in files:
        if not f.endswith(".py"):
            continue
        path = os.path.join(root, f)
        module = os.path.relpath(path, PKG)[:-3].replace(os.sep, ".")
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for p, d in _defaulted(node):
                    lines.append(f"{module}:{node.name} {p.arg}={ast.unparse(d)}")

for line in sorted(lines):
    print(line)
print("total", len(lines))
