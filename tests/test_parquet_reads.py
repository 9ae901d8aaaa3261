"""Every parquet read in the package is given its schema.

A `spark.read.parquet(...)` without `.schema(...)` makes Spark infer
the schema with a job before the read is even planned. The package
knows the schema of what it reads: an ACID table's manifest property,
a fixed schema, or the footer `catalog.read_parquet` reads on the
driver. The walk is static and needs no Spark.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "bitcoin_olap_spark"

#: (module, function) -> why its read has no `.schema(`
ALLOWED = {
    ("catalog.py", "read_parquet"): "gives the footer schema when there "
    "is one; otherwise Spark's own inference is the fallback",
    ("queries/sources.py", "src_schema_evolution"): "a deliberate "
    "mergeSchema read: merging the files' schemas is what it shows",
}


def _chain(call: ast.Call) -> list[str]:
    """Method names of the receiver chain of `call`, outermost first:
    `spark.read.schema(s).parquet(p)` -> parquet, schema, read, spark."""
    names, node = [], call.func
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names


def _reads_without_schema(path: pathlib.Path) -> list[tuple[str, int]]:
    """(enclosing function, line) of each `.parquet(` read in `path`
    whose chain has no `.schema(`; writer chains are skipped."""
    tree = ast.parse(path.read_text(), filename=str(path))
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            here = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                here = child.name
            if isinstance(child, ast.Call) and isinstance(
                child.func, ast.Attribute
            ):
                names = _chain(child)
                if (
                    names[0] == "parquet"
                    and not {"write", "writeStream"} & set(names)
                    and "schema" not in names
                ):
                    out.append((here, child.lineno))
            visit(child, here)

    visit(tree, "<module>")
    return out


def test_every_parquet_read_is_given_a_schema():
    files = sorted(PKG.rglob("*.py"))
    assert files
    bad, used = [], set()
    for f in files:
        mod = f.relative_to(PKG).as_posix()
        for fn, line in _reads_without_schema(f):
            if (mod, fn) in ALLOWED:
                used.add((mod, fn))
            else:
                bad.append(f"bitcoin_olap_spark/{mod}:{line} in {fn}")
    assert not bad, (
        "parquet read with no .schema(...): Spark infers the schema with "
        "a job; give the reader the schema (the ACID table's property, a "
        "fixed schema, or catalog.read_parquet):\n" + "\n".join(bad)
    )
    assert used == set(ALLOWED), f"stale ALLOWED entries: {set(ALLOWED) - used}"
