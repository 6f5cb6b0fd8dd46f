"""scale_probe.py's section renderers and the one writer that splices
them into SCALEPROBE.md — no Spark: every MODES entry renders from
fixture rows shaped like its probe's result."""

from __future__ import annotations

import re
import shutil
from pathlib import Path

import pytest

import bench
import scale_probe as sp

REPO = Path(__file__).resolve().parent.parent


def _bpe_round(merges, wall_s, rounds):
    return {
        "docs": 120_000, "vocab": 98_311, "merges": merges, "batch": 256,
        "wall_s": wall_s, "rounds": rounds, "s_per_round": round(wall_s / rounds, 2),
        "recount_s": 41.2, "fold_s": wall_s - 41.2, "recount_share_pct": 2.1,
        "fold_checkpoints": 128, "prefix_pin": 512, "prefix_ok": True,
    }


def _variant(cands, true, recall, gen_s):
    return {"cand_pairs": cands, "gen_s": gen_s, "true_pairs": true, "recall_pct": recall}


FIXTURES = {
    "mv": [
        {"parts": 11, "append_ms": 212.4, "read_final_ms": 380.1, "compact_s": 1.42,
         "read_after_compact_ms": 190.3},
        {"parts": 35, "append_ms": 208.9, "read_final_ms": 611.0, "compact_s": 1.9,
         "read_after_compact_ms": 188.7},
    ],
    "funnelstate": [
        {"users": 200, "keyspace": 18_000, "input_rows": 43_000, "state_rows": 21_004,
         "state_keys": 16_830, "append_ms": 240.0, "read_final_ms": 410.5, "compact_s": 2.1,
         "rows_folded": 16_830, "ttl_fold_s": 1.3, "rows_retained": 5_990},
    ],
    "corpusprep": [
        {"k": 1, "exact_s": 3.1, "lsh_s": 7.9},
        {"k": 4, "exact_s": 30.4, "lsh_s": 12.2},
        {"k": 10, "lsh_s": 21.7},
    ],
    "corpusprep40": {
        "k": 40, "docs": 183_040, "lsh_s": 61.3,
        "bucket_hist": {"1": {"buckets": 2_800_000, "entries": 2_800_000},
                        ">64": {"buckets": 40, "entries": 9_100}},
        "entries_over_cap_pct": 0.324, "cand_pairs_capped": 410_220,
        "cand_pairs_uncapped": 455_010, "cand_pairs_dropped": 44_790,
        "true_pairs_dropped": 830, "true_pairs_capped": 9_934, "valve_recall_pct": 92.289,
    },
    "corpusprep100": {
        "ks": [40, 100], "walls": {40: 88.1, 100: 201.7}, "docs": 457_600,
        "spread_partitions": 372, "adaptive_decision": {"depth": 1, "share": 0.031},
        "adaptive_gen_s": 40.2, "cand_pairs_adaptive": 1_020_331,
        "cand_pairs_uncapped": 1_100_002, "cand_pairs_dropped": 79_671,
        "true_pairs_adaptive": 24_870, "true_pairs_dropped": 12, "recall_pct": 99.952,
        "vs_linear": 0.916,
    },
    "lshsplit": {
        "k": 40, "docs": 183_040,
        "capped": _variant(410_220, 9_934, 92.289, 11.2),
        "split1": _variant(452_100, 10_700, 99.408, 13.0),
        "split2": _variant(454_900, 10_760, 99.965, 14.8),
        "adaptive": {**_variant(452_100, 10_700, 99.408, 13.3),
                     "decision": {"depth": 1, "share": 0.0324}},
        "uncapped": _variant(455_010, 10_764, 100.0, 12.1),
        "adaptive_1x": {"depth": 0, "share": 0.00041},
    },
    "textops": [
        {"k": 1, "common_tokens": 31, "rare_s": 1.9, "chunk_s": 2.4},
        {"k": 4, "common_tokens": 44, "rare_s": 3.1, "chunk_s": 5.5},
    ],
    "bpe": [
        {"k": 1, "vocab": 31, "train_s": 6.2, "merges": 12},
        {"k": 4, "vocab": 124, "train_s": 7.0, "merges": 12},
    ],
    "bpesynth": [
        {"docs": 10_000, "vocab": 9_800, "train_s": 9.1, "merges": 12},
        {"docs": 40_000, "vocab": 37_200, "train_s": 14.6, "merges": 12},
    ],
    "bpeencode": [
        {"merges": 64, "vocab": 98_311, "rank_s": 3.2, "fold_s": 4.0},
        {"merges": 4096, "vocab": 98_311, "rank_s": 5.9},
    ],
    "bpebatched": [
        {"cfg": "A", "docs": 120_000, "vocab": 98_311, "merges": 1024, "batch": 128,
         "exact": True, "ckpt": 32, "wall_s": 810.5, "rounds": 68, "s_per_round": 11.92,
         "merges_per_s": 1.3, "fold_checkpoints": 32, "merge_table_bytes": 61_440},
        {"cfg": "D", "docs": 120_000, "vocab": 98_311, "merges": 256, "batch": 128,
         "exact": False, "ckpt": 0, "wall_s": 420.0, "rounds": 2, "s_per_round": 210.0,
         "merges_per_s": 0.6, "fold_checkpoints": 0, "merge_table_bytes": 15_360},
    ],
    "bpe4096": _bpe_round(4096, 1715.0, 16),
    "bpebig": [_bpe_round(8192, 2817.9, 33), _bpe_round(16384, 4889.7, 65)],
    "tfidf": [
        {"k": 1, "out_rows": 47_920, "tfidf_s": 4.4},
        {"k": 10, "out_rows": 479_200, "tfidf_s": 19.8},
    ],
    "annint8": [
        {"k": 1, "vectors": 10_000, "float_s": 0.9, "int8_s": 1.4, "recall_at_10": 0.9},
        {"k": 10, "vectors": 100_000, "float_s": 2.2, "int8_s": 3.1, "recall_at_10": 0.8},
    ],
    "annstored": [
        {"k": 1, "vectors": 10_000, "build_s": 3.3, "float_s": 0.9, "inline_int8_s": 1.4,
         "stored_int8_s": 0.7, "ivf_stored_s": 0.4, "float_kb": 2_600, "store_kb": 700,
         "bytes_ratio": 3.71},
        {"k": 10, "vectors": 100_000, "build_s": 6.0, "float_s": 2.2, "inline_int8_s": 3.1,
         "stored_int8_s": 1.2, "float_kb": 26_000, "store_kb": 7_000, "bytes_ratio": 3.71},
    ],
    "ivfrecall": {
        "k": 40, "vectors": 400_000, "dim": 64, "num_cells": 16, "queries": 12,
        "cell_max_over_mean": 1.83, "cell_min": 12_001, "cell_max": 45_770,
        "recall_at_10": {"1": 0.41, "4": 0.78, "16": 0.93},
        "recall_at_10_rerank": {"1": 0.43, "4": 0.84, "16": 1.0},
        "rerank_candidates": 4096,
        "s_per_query": {"1": 0.31, "4": 0.52, "16": 1.4},
        "s_per_query_rerank": {"1": 0.44, "4": 0.7, "16": 1.9},
    },
    "semdedup": [
        {"k": 1, "vectors": 10_005, "num_cells": 16, "assign": "literal", "pairs": 5,
         "planted_recall": "5/5", "wall_s": 6.1},
        {"k": 10, "vectors": 100_005, "num_cells": 160, "assign": "arrow", "pairs": 4_500_050,
         "planted_recall": "50/50", "wall_s": 41.0},
    ],
    "heavyhitters": [
        {"key_space": 1_000, "distinct": 1_000, "candidates": 1_000, "naive_s": 2.2, "mg_s": 3.0},
        {"key_space": 4_000_000, "distinct": 2_913_007, "candidates": 20_480, "naive_s": 9.9,
         "mg_s": 5.1},
    ],
    "stateparts": [
        {"parts": 8, "topk_read_s": 0.6, "topk_compacted_s": 0.3, "quant_read_s": 0.7,
         "quant_compacted_s": 0.3, "tdigest_read_s": 0.8, "tdigest_compacted_s": 0.4,
         "tdigest_centroids": 3_100},
        {"parts": 256, "topk_read_s": 4.1, "topk_compacted_s": 0.3, "quant_read_s": 4.9,
         "quant_compacted_s": 0.3},
    ],
    "statedays": [
        {"day": 1, "events_total": 5_000, "funnel_parts": 1, "funnel_stored_rows": 790,
         "funnel_keys": 790, "state_mb": 0.2, "folds": 0, "funnel_read_s": 0.5,
         "topk_read_s": 0.6, "quant_read_s": 0.6, "tdigest_read_s": 0.7},
        {"day": 2, "events_total": 10_000, "funnel_parts": 2, "funnel_stored_rows": 1_590,
         "funnel_keys": 1_580, "state_mb": 0.4, "folds": 0, "funnel_read_s": 0.6,
         "topk_read_s": 0.7, "quant_read_s": 0.6, "tdigest_read_s": 0.8},
    ],
    "stateretention": [
        {"day": d, "events_total": 20_000 * d, "retained_days": min(d, 3),
         "mv_stored_rows": 110 * min(d, 3), "state_keys": 110 * min(d, 3),
         "state_mb": 0.2 * min(d, 3), "mv_read_s": 0.4, "topk_read_s": 0.5,
         "quant_read_s": 0.5, "tdigest_read_s": 0.6}
        for d in range(1, 5)
    ],
    "router": [
        {"case": "point_user", "routed_to": "events__user_id_event_timestamp",
         "total_rows": 5_000_000, "k": 50,
         "base": {"s": 1.207, "read_rows": 5_000_000, "read_files": 24, "read_bytes": 9},
         "routed": {"s": 0.311, "read_rows": 20_480, "read_files": 1, "read_bytes": 1}},
        {"case": "type_day_match_base", "routed_to": "events", "total_rows": 5_000_000,
         "k": 50, "base": {"s": 0.2, "read_rows": 0, "read_files": 1, "read_bytes": 1},
         "routed": {"s": 0.2, "read_rows": 0, "read_files": 1, "read_bytes": 1}},
    ],
    "skew": [
        {"case": "copurchased_hot_basket", "arm": "bcast=off,aqe_skew=true", "s": 30.9,
         "plan_skew_split": False, "joins": "SMJx1"},
        {"case": "minhash_hot_bucket", "arm": "nocap_n2000", "s": 14.2,
         "candidate_pairs": 1_999_000},
    ],
    "cc": [
        {"arm": "clusters", "edges": 100_000, "rounds": 5, "s": 3.1, "components": 20_000},
        {"arm": "clusters+chain4096", "edges": 104_095, "rounds": 9, "s": 4.0,
         "components": 20_001},
        {"arm": "clusters", "edges": 1_000_000, "rounds": 6, "s": 8.8, "components": 200_000},
    ],
    "dedupingest": [
        {"corpus": 10_000, "arm": "pushdown", "batch_rows": 500, "s": 0.912},
        {"corpus": 10_000, "arm": "anti_join", "batch_rows": 500, "s": 1.304},
    ],
    "neardupingest": [
        {"corpus": 10_000, "batch_rows": 500, "s": 2.91, "seed_s": 9.4},
        {"corpus": 200_000, "batch_rows": 500, "s": 3.52, "seed_s": 60.1},
    ],
    "neardupparts": [{"parts": 8, "s": 2.8}, {"parts": 512, "s": 9.1}],
    "temporal": [
        {"k": 1, "asof_s": 2.0, "funnel_s": 3.0, "quantiles_s": 1.0, "asof_s_joins": "none",
         "funnel_s_joins": "SMJx1", "quantiles_s_joins": "none"},
        {"k": 4, "asof_s": 5.0, "funnel_s": 7.5, "quantiles_s": 2.9, "asof_s_joins": "none",
         "funnel_s_joins": "SMJx1", "quantiles_s_joins": "BHJx1"},
    ],
    "asofhotkey": [
        {"rows": 1_000_000, "hot_s": 9.1, "uniform_s": 1.2, "hot_split_s": 2.0},
        {"rows": 8_000_000, "hot_s": 70.3, "uniform_s": 5.9, "hot_split_s": 8.8},
    ],
    "benchsf1": {
        "k": 10, "runs": 2, "replicate_build_s": 250.3,
        "sf1": {n: 2.0 + i for i, n in enumerate(bench.HEADLINE)},
        "sf01_session": {n: 0.5 + 0.1 * i for i, n in enumerate(bench.HEADLINE)},
        "total_sf1_s": 1000.0, "total_sf01_session_s": 250.0,
    },
    "steepest": [
        {"query": q, "k": k, "wall_s": 10.0 * k / 10 + i, "scan_mb": 100.0 * k,
         "shuffle_mb": 10.0 * k, "shuffle_rows": 1_000 * k, "replicate_build_s": 80.0}
        for k in (10, 30)
        for i, q in enumerate(sp.STEEPEST)
    ],
    "asofsf6": [
        {"k": 10, "wall_s": 14.7, "scan_mb": 120.0, "shuffle_mb": 300.1,
         "shuffle_rows": 1_100_000, "replicate_build_s": 60.0, "initial_partitions": "64",
         "shuffle_partitions": "32"},
        {"k": 60, "wall_s": 76.4, "scan_mb": 720.0, "shuffle_mb": 1800.6,
         "shuffle_rows": 6_600_000, "replicate_build_s": 300.0, "initial_partitions": "256",
         "shuffle_partitions": "32"},
    ],
    "ttlscale": [
        {"months": 27, "doomed": 12, "reaped": 12, "listing_fast_ms": 0.4, "read_fast_ms": 180.2,
         "doom_pass_ms": 3.3, "listing_doomed_ms": 1.2, "read_doomed_ms": 210.0,
         "reap_pass_ms": 2.0},
        {"months": 963, "doomed": 480, "reaped": 480, "listing_fast_ms": 6.1,
         "read_fast_ms": 900.5, "doom_pass_ms": 80.0, "listing_doomed_ms": 30.3,
         "read_doomed_ms": 1200.0, "reap_pass_ms": 60.1},
    ],
}
K_TABLE = {
    "ks": [1, 4],
    "results": {1: {q: 1.0 + i for i, q in enumerate(sp.QUERIES)},
                4: {q: 3.0 + i for i, q in enumerate(sp.QUERIES)}},
    "joins": {1: {q: "BHJx1" for q in sp.QUERIES}, 4: {q: "SMJx2" for q in sp.QUERIES}},
}


def _sections(text: str) -> dict[str, str]:
    """heading line -> that section's text, up to the next ``## ``;
    the title part before the first ``## `` keys on ""."""
    parts = re.split(r"(?m)^(?=## )", text)
    return {"": parts[0], **{p.split("\n", 1)[0]: p for p in parts[1:]}}


@pytest.fixture()
def scaleprobe_md(tmp_path):
    md = tmp_path / "SCALEPROBE.md"
    shutil.copy(REPO / "SCALEPROBE.md", md)
    return md


def test_every_mode_has_a_fixture():
    assert set(FIXTURES) == set(sp.MODES)


def _assert_tables_well_formed(lines: list[str]) -> None:
    """Every markdown table row has as many cells as its header."""
    header = None
    for line in lines:
        if not line.startswith("|"):
            header = None
            continue
        cells = len(line.strip().strip("|").split("|"))
        header = header or cells
        assert cells == header, f"{line!r} has {cells} cells, its header {header}"


@pytest.mark.parametrize("mode", sorted(FIXTURES))
def test_section_renders_well_formed_tables(mode):
    heading, lines = sp.MODES[mode].render(FIXTURES[mode])
    assert heading.startswith("## ") and "\n" not in heading
    assert re.search(rf"scale_probe\.py {mode}\b", "\n".join(lines))
    _assert_tables_well_formed(lines)


@pytest.mark.parametrize("mode", sorted(FIXTURES))
def test_rewriting_one_section_leaves_the_others_byte_identical(scaleprobe_md, mode):
    heading, lines = sp.MODES[mode].render(FIXTURES[mode])
    before = _sections(scaleprobe_md.read_text())
    sp.write_section(scaleprobe_md, heading, lines)
    after = _sections(scaleprobe_md.read_text())
    assert after.pop(heading).startswith("\n".join([heading, "", *lines]) + "\n")
    assert list(after) == [h for h in before if h != heading]
    if heading in before:  # a re-run: every other section byte-identical
        before.pop(heading)
        assert after == before
    else:  # appended: only the blank lines that ended the file go
        assert {h: s.rstrip() for h, s in after.items()} == {
            h: s.rstrip() for h, s in before.items()
        }
    text = scaleprobe_md.read_text()
    sp.write_section(scaleprobe_md, heading, lines)  # a re-run changes no byte
    assert scaleprobe_md.read_text() == text


def test_temporal_heading_stays_a_section_boundary(scaleprobe_md):
    """The temporal writer once spliced without the heading's leading
    newline: its heading got glued to the previous paragraph and other
    writers no longer saw a section boundary there."""
    heading, lines = sp.MODES["temporal"].render(FIXTURES["temporal"])
    before = _sections(scaleprobe_md.read_text())
    for _ in range(2):
        sp.write_section(scaleprobe_md, heading, lines)
    text = scaleprobe_md.read_text()
    assert not re.search(r"[^\n#]## ", text)
    assert text.count(heading) == 1 and f"\n\n{heading}\n\n" in text
    after = _sections(text)
    assert [h for h in after if h != heading] == [h for h in before if h != heading]
    assert {h: s for h, s in after.items() if h != heading} == {
        h: s for h, s in before.items() if h != heading
    }


def test_write_section_creates_and_appends(tmp_path):
    md = tmp_path / "NEW.md"
    sp.write_section(md, "## First", ["a"])
    sp.write_section(md, "## Second", ["b", "", "c"])
    sp.write_section(md, "## First", ["a2"])
    assert md.read_text().lstrip("\n") == "## First\n\na2\n\n## Second\n\nb\n\nc\n"


def test_k_table_rewrites_only_the_title_section(scaleprobe_md):
    before = _sections(scaleprobe_md.read_text())
    heading, lines = sp.k_table_section(K_TABLE)
    assert heading.startswith("# ")
    _assert_tables_well_formed(lines)
    sp.write_section(scaleprobe_md, heading, lines)
    after = _sections(scaleprobe_md.read_text())
    assert after.pop("") == "\n".join([heading, "", *lines]) + "\n\n"
    before.pop("")
    assert after == before


def test_every_cited_mode_is_in_the_table():
    """Docs cite probe runs as `scale_probe.py <mode>`: each must be a
    MODES key, so the table and the docs cannot drift apart."""
    cited = {
        (doc, m)
        for doc in ("SCALEPROBE.md", "COVERAGE.md", "README.md")
        for m in re.findall(r"`(?:python )?scale_probe\.py ([a-z]\w*)", (REPO / doc).read_text())
    }
    assert cited
    assert {(doc, m) for doc, m in cited if m not in sp.MODES} == set()
