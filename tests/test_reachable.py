"""Every top-level definition in the package has a caller outside tests.

A definition counts as reached when its name is used (an ``ast.Name``,
an attribute name or an imported name) outside its own body, anywhere
in the package, ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``, or when it is a registered query
(``@register``). Re-exports in an ``__init__.py`` do not count: they
make a name importable, they do not use it. Tests do not count either,
so code that only a test calls shows up here.

The unreached set must equal ``KEEP``. A new unreached definition fails
by name; so does a ``KEEP`` entry that has since gained a caller or
been deleted.
"""

from __future__ import annotations

import ast
import pathlib

import project_graphdb_spark

PACKAGE = pathlib.Path(project_graphdb_spark.__file__).parent
REPO = PACKAGE.parent

#: unreached definitions kept on purpose: name -> why
KEEP = {
    "export_sqlite": "CSV staging of the reference's sqlite_to_csv.py",
    "read_staged_csv": "CSV staging of the reference's sqlite_to_csv.py",
    "read_csv_table": "CSV staging of the reference's sqlite_to_csv.py",
    "erd_text": "the reference's text ERD (erd_text.py)",
    "erd_dot": "the reference's ERD diagram (erd.py)",
    "graph_schema_dot": "the reference's graph-schema diagram (erd.py)",
    "graph_schema_html": "the reference's graph-schema diagram (erd.py)",
    "load_report": "the reference's post-load report (inject_relationship.py)",
    "validate_cypher": "the reference's EXPLAIN check (langraph_neo4j3.py)",
    "minhash_signatures": "reference for the Arrow minhash kernel's test",
    "minhash_signature_arrays_jvm": "reference for the Arrow minhash "
    "kernel's test",
    "split_corrupt": "quarantine of malformed input from outside",
    "clear_shingle_cache": "the only release of the dedup persist memo",
    "streaming_session_counts": "stream side of the ev_sessionization "
    "face's twin test",
}


def _sources() -> list[pathlib.Path]:
    return [
        *sorted(PACKAGE.rglob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]


def _is_register(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return getattr(f, "id", getattr(f, "attr", None)) == "register"


def _used_names(node: ast.AST, reexport: bool) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and not reexport:
            out.add(n.name)
    return out


def _unreached() -> set[str]:
    defs: dict[str, set[pathlib.Path]] = {}
    uses: dict[str, set[tuple[pathlib.Path, str | None]]] = {}
    registered = set()
    for path in _sources():
        if "tests" in path.relative_to(REPO).parts:
            continue
        tree = ast.parse(path.read_text())
        in_package = PACKAGE in path.parents
        reexport = in_package and path.name == "__init__.py"
        for top in tree.body:
            owner = None
            if in_package and isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                owner = top.name
                defs.setdefault(top.name, set()).add(path)
                if any(_is_register(d) for d in top.decorator_list):
                    registered.add(top.name)
            for name in _used_names(top, reexport):
                uses.setdefault(name, set()).add((path, owner))
    # unreached: every use of the name sits inside its own definition
    return {
        name
        for name, paths in defs.items()
        if name not in registered
        and all(
            path in paths and owner == name
            for path, owner in uses.get(name, ())
        )
    }


def test_package_definitions_are_reached_or_kept():
    unreached = _unreached()
    assert unreached == set(KEEP), (
        f"unreached, not in KEEP: {sorted(unreached - set(KEEP))}; "
        f"in KEEP, now reached or gone: {sorted(set(KEEP) - unreached)}"
    )
