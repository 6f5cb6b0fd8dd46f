"""No new forks of the part-store plumbing: among engine modules, the
stream launch (``readStream``), the idempotent ``b=<id>`` part write
and the ``compact_parts`` call live only in ``streaming/parts.py``.
A store that needs one of them composes the parts.py function instead
of re-writing it. Pure source inspection (no Spark)."""

from __future__ import annotations

import ast
from pathlib import Path

ENGINE = Path(__file__).resolve().parents[1] / "clickhouse_realtime_analytics_demo_spark"
HOME = ENGINE / "streaming" / "parts.py"


def _forks(tree: ast.AST) -> set[str]:
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr == "readStream":
            found.add("readStream")
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name == "compact_parts":
            found.add("compact_parts")
        if name == "parquet":
            # a parquet write into a batch-id-keyed part dir: f"{...}/b={...}"
            for arg in node.args:
                if isinstance(arg, ast.JoinedStr) and any(
                    isinstance(v, ast.Constant) and str(v.value).endswith("/b=")
                    for v in arg.values
                ):
                    found.add("b=<id> part write")
    return found


def test_part_store_plumbing_lives_only_in_parts_py():
    assert _forks(ast.parse(HOME.read_text())) == {
        "readStream",
        "compact_parts",
        "b=<id> part write",
    }, "the guard no longer recognises the forms it protects"
    forks = {
        str(p.relative_to(ENGINE)): sorted(found)
        for p in sorted(ENGINE.rglob("*.py"))
        if p != HOME and (found := _forks(ast.parse(p.read_text())))
    }
    assert forks == {}, forks
