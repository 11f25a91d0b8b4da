"""The package surface has a caller outside tests/.

A static scan, no Spark. Every top-level def and class in
``q_digest_spark/`` must be reached: its name is used as an identifier
(a ``Name``, an ``Attribute`` or a ``from ... import`` name in the AST;
strings and comments do not count) outside its own body, in module-level
code of the package or anywhere in ``__spark_entry__.py``, the non-test
``perfbench/`` files or the Python files in ``scripts/``, or inside the
body of a def that is itself reached. A def reached only from unreached
defs is unreached (the scan runs to a fixed point). Code that only tests
call is deleted, or listed in ``ALLOWED`` with the reason it stays.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

ALLOWED = {
    "exact_jaccard": "exact reference the MinHash tests compare against",
    "exact_weighted_jaccard": "exact reference the ICWS tests compare against",
    "lineage_report": "read side of the checkpoint lineage",
    "iceberg_available": "capability probe of the native Iceberg writer (README)",
    "write_pages_iceberg": "native Iceberg writer, taken where the runtime jar exists",
    "write_pages_partitioned": "Parquet emulation of the Iceberg layout (README); write_pages_iceberg's error names it",
    "with_partition_columns": "partition columns of the Parquet emulation of the Iceberg layout",
    "cosine_near_dup_pairs": "exact all-pairs reference the lsh_near_dup_pairs tests compare against",
    "icws_signature": "per-document reference the batch ICWS tests compare against",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _identifiers(nodes):
    """Every identifier the AST ``nodes`` use."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                out.update(a.name for a in n.names)
    return out


def _package_defs(root):
    """(path, top-level def/class node) of each package module."""
    return [
        (path, node)
        for path in sorted((root / "q_digest_spark").rglob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, _DEF)
    ]


def _outside_files(root):
    files = [root / "__spark_entry__.py"]
    files += [p for p in sorted((root / "perfbench").glob("*.py")) if not p.name.startswith("test_")]
    files += sorted((root / "scripts").glob("*.py"))
    return [p for p in files if p.is_file()]


def unreached(root=ROOT):
    """Names of package defs that nothing outside tests/ reaches."""
    defs = _package_defs(root)
    by_name = {}
    for path, node in defs:
        by_name.setdefault(node.name, []).append((path, node.name))

    roots = set()
    for path in _outside_files(root):
        roots |= _identifiers([ast.parse(path.read_text())])
    for path in sorted((root / "q_digest_spark").rglob("*.py")):
        roots |= _identifiers(n for n in ast.parse(path.read_text()).body if not isinstance(n, _DEF))
    bodies = {(path, node.name): _identifiers([node]) - {node.name} for path, node in defs}

    reached = set()
    todo = [d for name in roots for d in by_name.get(name, [])]
    while todo:
        key = todo.pop()
        if key in reached:
            continue
        reached.add(key)
        todo.extend(e for name in bodies[key] for e in by_name.get(name, []))
    return sorted(
        f"{path.relative_to(root)}:{node.name}"
        for path, node in defs
        if (path, node.name) not in reached
    )


def test_every_package_def_has_a_caller_outside_tests():
    missing = [d for d in unreached() if d.rsplit(":", 1)[1] not in ALLOWED]
    assert not missing, "reached only from tests (delete, or add to ALLOWED with a reason):\n" + "\n".join(missing)


def test_allowlist_names_only_unreached_defs():
    stale = set(ALLOWED) - {d.rsplit(":", 1)[1] for d in unreached()}
    assert not stale, f"ALLOWED entries that now have a caller or no def: {sorted(stale)}"


def test_scan_counts_identifiers_not_words(tmp_path):
    """A name in a comment or a string is not a caller; an import is,
    and so is a call from a reached def."""
    (tmp_path / "q_digest_spark").mkdir()
    (tmp_path / "q_digest_spark" / "m.py").write_text(
        "def used():\n    return helper()\n\n\n"
        "def helper():\n    return 1\n\n\n"
        "def load():\n    return 2\n\n\n"
        "def only_self():\n    return only_self()\n"
    )
    (tmp_path / "__spark_entry__.py").write_text(
        "from q_digest_spark.m import used\n# load the tables\nNAME = 'only_self'\n"
    )
    assert unreached(tmp_path) == ["q_digest_spark/m.py:load", "q_digest_spark/m.py:only_self"]
