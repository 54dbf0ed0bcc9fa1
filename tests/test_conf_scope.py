"""Scoped confs live on a session clone: no engine code calls
``.conf.set(`` except the places listed here, each of which either
sets confs on a clone it made or applies session-wide engine confs
on purpose."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "vega_spark"

ALLOWED = {
    # the clone helper, and the drain restoring the caller's partition
    # count on its own clone after the stream stops
    ("session.py", "cloned_session"),
    ("streaming/sources.py", "drain_to_memory"),
    # engine defaults applied to a caller-provided session
    ("session.py", "ensure_engine_conf"),
    # events' nanosecond timestamps need these to read at all
    ("tables.py", "load_table"),
    # the state-store provider must be set on the session that starts
    # the query
    ("streaming/stateful.py", "running_totals_tws"),
}


def _conf_set_sites() -> set[tuple[str, str]]:
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name if fn is None else fn
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "set"
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "conf"):
                sites.add((rel, fn or "<module>"))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)
        visit(ast.parse(path.read_text(), str(path)), None)
    return sites


def test_conf_set_only_at_allowed_sites():
    sites = _conf_set_sites()
    assert sites - ALLOWED == set(), (
        "set scoped confs on vega_spark.session.cloned_session, not on "
        "the caller's session")
    # the list stays exact: a site that is gone leaves the list too
    assert ALLOWED - sites == set()
