"""No new copies of the exact-Jaccard verify: among engine modules and
``scale_probe.py``, the per-pair array intersect and the calls to
``dedup.jaccard`` live only in ``operators/dedup.py``. A caller that
needs to verify candidate pairs composes ``verify_candidates`` (the
barriered form) or ``verified_jaccard_pairs`` (the lazy form) instead
of re-writing the attach. Pure source inspection (no Spark)."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
ENGINE = REPO / "clickhouse_realtime_analytics_demo_spark"
HOME = ENGINE / "operators" / "dedup.py"

# the one documented exception: streaming near-dup ingest verifies a
# batch doc against ACCEPTED-corpus shingles (acc_sh), which are keyed
# differently from a candidate-pair frame
ALLOWED = {"clickhouse_realtime_analytics_demo_spark/streaming/dedup.py": ["jaccard call"]}


def _forms(tree: ast.AST) -> list[str]:
    found = []
    for node in ast.walk(tree):
        name = (
            node.attr
            if isinstance(node, ast.Attribute)
            else node.id if isinstance(node, ast.Name) else None
        )
        if name == "array_intersect":
            found.append("array_intersect")
        if isinstance(node, ast.Call):
            fn = node.func
            called = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
            if called == "jaccard":
                found.append("jaccard call")
    return sorted(found)


def test_verify_attach_lives_only_in_operators_dedup():
    assert {"array_intersect", "jaccard call"} <= set(
        _forms(ast.parse(HOME.read_text()))
    ), "the guard no longer recognises the forms it protects"
    modules = [p for p in sorted(ENGINE.rglob("*.py")) if p != HOME]
    modules.append(REPO / "scale_probe.py")
    copies = {
        str(p.relative_to(REPO)): found
        for p in modules
        if (found := _forms(ast.parse(p.read_text())))
    }
    assert copies == ALLOWED, copies
