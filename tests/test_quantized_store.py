"""Write-time int8 embedding store (sources/quantized.py, VERDICT r10
#3): the store must (1) hold honest int8 at rest (tinyint), (2) score
bit-identically to the inline quantize path, (3) self-freshen when the
source parquet is regenerated — /root/testdata IS rewritten every
driver round, so a stale store would silently serve last round's
vectors — and (4) not rebuild when the source is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from clickhouse_realtime_analytics_demo_spark.operators import similarity
from clickhouse_realtime_analytics_demo_spark.sources import quantized
from tests.conftest import SF_DIR, count_jobs


def test_store_schema_and_agreement_with_inline(spark, tmp_path):
    qz = quantized.read_store(spark, SF_DIR, root=str(tmp_path))
    schema = {f.name: f.dataType.simpleString() for f in qz.schema.fields}
    assert schema == {
        "vec_id": "bigint",
        "qvec": "array<tinyint>",
        "qscale": "double",
    }
    stored = similarity.quantized_topk_scan(qz, query_id=0, k=10).collect()
    from clickhouse_realtime_analytics_demo_spark import catalog

    emb = catalog.table(spark, SF_DIR, "embeddings")
    inline = similarity.quantized_topk(emb, query_id=0, k=10).collect()
    assert [tuple(r) for r in stored] == [tuple(r) for r in inline]


def test_store_reuse_and_refresh(spark, tmp_path):
    p1 = quantized.ensure_store(spark, SF_DIR, root=str(tmp_path))
    marker = p1 / "_SOURCE.json"
    stamp = marker.stat().st_mtime_ns
    # unchanged source -> no rebuild (marker untouched)
    quantized.ensure_store(spark, SF_DIR, root=str(tmp_path))
    assert marker.stat().st_mtime_ns == stamp

    # a regenerated source (different mtime, same path shape) -> rebuild.
    # Copy the corpus so we can touch it without writing to testdata.
    import shutil

    src_dir = tmp_path / "sf_copy"
    src_dir.mkdir()
    shutil.copy(f"{SF_DIR}/embeddings.parquet", src_dir / "embeddings.parquet")
    pa = quantized.ensure_store(spark, str(src_dir), root=str(tmp_path))
    assert pa != p1  # per-source isolation: different dir per corpus
    ma = pa / "_SOURCE.json"
    t0 = ma.stat().st_mtime_ns
    os.utime(src_dir / "embeddings.parquet", ns=(1, 1))  # simulate regeneration
    quantized.ensure_store(spark, str(src_dir), root=str(tmp_path))
    assert ma.stat().st_mtime_ns != t0  # marker rewritten -> store rebuilt


def test_store_is_smaller_than_float(spark, tmp_path):
    # the point of the store: bytes at rest. tinyint + per-vector scale
    # must come in well under the float64-list source column encoding.
    p = quantized.ensure_store(spark, SF_DIR, root=str(tmp_path))
    store_bytes = sum(f.stat().st_size for f in (p / "data").rglob("*.parquet"))
    src_bytes = os.stat(f"{SF_DIR}/embeddings.parquet").st_size
    assert store_bytes < src_bytes / 2, (store_bytes, src_bytes)


def files_read(df):
    """numFiles metric of the EXECUTED scan, not inputFiles() —
    inputFiles reports the unpruned relation listing."""
    df.collect()
    node = df._jdf.queryExecution().executedPlan()
    stack = [node]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        if cls == "FileSourceScanExec":
            return int(n.metrics().apply("numFiles").value())
        for i in range(n.children().size()):
            stack.append(n.children().apply(i))
    raise AssertionError("no FileSourceScanExec in plan")


def test_ivf_store_partition_pruning_and_recall(spark, tmp_path):
    # the IVF store's whole point: the probe must OPEN only the nprobe
    # cell directories (partition pruning decided before task launch)
    p = quantized.ensure_ivf_store(spark, SF_DIR, num_cells=16, root=str(tmp_path))
    assert (p / "centroids.json").exists()
    store = spark.read.parquet(str(p / "data"))
    cells = {r["cell"] for r in store.select("cell").distinct().collect()}
    assert cells <= set(range(16)) and len(cells) >= 4

    # partition pruning proof from the EXECUTED scan's numFiles metric:
    # it must equal the probed directories' file count
    probed_files = files_read(store.filter(store.cell.isin([0, 1])))
    all_files = files_read(store)
    on_disk_probed = sum(
        1
        for c in (0, 1)
        for f in (p / "data" / f"cell={c}").rglob("*.parquet")
    )
    assert probed_files == on_disk_probed
    assert probed_files < all_files

    # end-to-end: k results, deterministic, recall >= the inline IVF
    # gate (same nprobe/num_cells, same data) vs the exact baseline
    got = quantized.ivf_stored_topk(
        spark, SF_DIR, query_id=0, k=10, nprobe=4, root=str(tmp_path)
    ).collect()
    again = quantized.ivf_stored_topk(
        spark, SF_DIR, query_id=0, k=10, nprobe=4, root=str(tmp_path)
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    assert len(got) == 10
    exact = {
        r.neighbor_id
        for r in similarity.brute_force_topk(
            spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), query_id=0, k=10
        ).collect()
    }
    recall = len(exact & {r.neighbor_id for r in got}) / 10
    assert recall >= 0.5, f"IVF-store recall {recall} too low"


def test_ivf_query_lookup_single_point_read(spark, tmp_path):
    """r16 (VERDICT r15 #3): the per-query driver-side query-row fetch
    is ONE point read of the by-id projection sidecar — one Spark job
    that returns cell AND vector, touching only the ``id_index`` files
    (never the ``data/`` tree; the r15 two-job form read the index for
    the cell and then the cell directory for the vector, and the r14
    form before it opened every cell)."""
    p = quantized.ensure_ivf_store(spark, SF_DIR, num_cells=16, root=str(tmp_path))
    assert (p / "id_index").is_dir()

    # the lookup is one job: assert via the SparkContext job counter
    (qrow, qcell), jobs = count_jobs(spark, quantized.ivf_query_lookup, spark, p, query_id=0)
    assert jobs == 1, f"lookup ran {jobs} jobs, expected 1"
    assert qrow["qvec"] is not None and qrow["qscale"] is not None
    assert 0 <= qcell < 16

    # the executed scan reads only the projection files, never data/
    idx = spark.read.parquet(str(p / "id_index"))
    probe = idx.filter(F.col("vec_id") == 0).select("cell", "qvec", "qscale")
    got = files_read(probe)
    index_files = sum(1 for _ in (p / "id_index").rglob("*.parquet"))
    store_files = sum(1 for _ in (p / "data").rglob("*.parquet"))
    assert got <= index_files
    assert got < store_files

    # the projection agrees with the store row-for-row: same rows,
    # same cell assignment, same quantized vectors
    store = spark.read.parquet(str(p / "data"))
    assert idx.count() == store.count()
    mism = (
        idx.withColumnRenamed("cell", "icell")
        .withColumnRenamed("qvec", "iqvec")
        .withColumnRenamed("qscale", "iqscale")
        .join(store, "vec_id")
        .filter(
            (F.col("icell") != F.col("cell"))
            | (F.col("iqvec") != F.col("qvec"))
            | (F.col("iqscale") != F.col("qscale"))
        )
        .count()
    )
    assert mism == 0

    # an unknown id fails loudly, not with a silent empty result
    import pytest

    with pytest.raises(ValueError, match="not in the IVF store index"):
        quantized.ivf_query_lookup(spark, p, query_id=10**9)


def test_ivf_recall_floor_vs_nprobe(spark, tmp_path):
    """r12 (VERDICT r11 #5): the recall-vs-nprobe contract, asserted —
    mean recall@10 over several queries is (a) monotone non-decreasing
    in nprobe, (b) above the floor at the default nprobe=4, (c) near
    the int8 ceiling when every cell is probed (the full-probe gap
    from 1.0 is pure quantization ranking loss). The 40× curve with
    cell-skew readout lives in SCALEPROBE.md (`scale_probe.py
    ivfrecall`)."""
    from clickhouse_realtime_analytics_demo_spark import catalog

    emb = catalog.table(spark, SF_DIR, "embeddings")
    n = emb.count()
    qids = [(j * 101) % n for j in range(8)]
    exact = {
        q: {
            r.neighbor_id
            for r in similarity.brute_force_topk(emb, query_id=q, k=10).collect()
        }
        for q in qids
    }

    def mean_recall(nprobe: int) -> float:
        hits = []
        for q in qids:
            got = {
                r.neighbor_id
                for r in quantized.ivf_stored_topk(
                    spark, SF_DIR, query_id=q, k=10, nprobe=nprobe, root=str(tmp_path)
                ).collect()
            }
            hits.append(len(got & exact[q]) / 10.0)
        return sum(hits) / len(hits)

    r1, r4, r16 = mean_recall(1), mean_recall(4), mean_recall(16)
    assert r1 <= r4 + 0.05 and r4 <= r16 + 0.05, (r1, r4, r16)  # monotone (slack: ties)
    assert r4 >= 0.40, f"recall@10 at nprobe=4 fell to {r4}"
    assert r16 >= 0.90, f"full-probe int8 ceiling fell to {r16}"


def test_ivf_float_rerank_recovers_recall(spark, tmp_path):
    """r13 (VERDICT r12 #3): the r12 probe isolated full-probe recall
    loss as pure int8 RANKING error — a float re-rank over the bounded
    top-candidate set must erase it. Pins: (a) full-probe + re-rank
    recall@10 ≥ 0.99 (vs the ~0.95-0.97 int8 ceiling), (b) re-rank at
    nprobe=4 never hurts the int8 ranking, (c) the re-ranked scores
    are EXACTLY the float cosines (brute-force agreement on the
    returned ids)."""
    from clickhouse_realtime_analytics_demo_spark import catalog

    emb = catalog.table(spark, SF_DIR, "embeddings")
    n = emb.count()
    qids = [(j * 101) % n for j in range(8)]
    exact = {
        q: {
            r.neighbor_id: r.cosine_sim
            for r in similarity.brute_force_topk(emb, query_id=q, k=10).collect()
        }
        for q in qids
    }

    def mean_recall(nprobe: int, rerank: int) -> float:
        hits = []
        for q in qids:
            got = {
                r.neighbor_id
                for r in quantized.ivf_stored_topk(
                    spark, SF_DIR, query_id=q, k=10, nprobe=nprobe,
                    root=str(tmp_path), rerank=rerank,
                ).collect()
            }
            hits.append(len(got & set(exact[q])) / 10.0)
        return sum(hits) / len(hits)

    full_rr = mean_recall(16, 200)
    assert full_rr >= 0.99, f"full-probe + float re-rank recall {full_rr}"
    assert mean_recall(4, 200) >= mean_recall(4, 0) - 1e-9
    # (c) score agreement: returned cosines == float brute-force values
    rows = quantized.ivf_stored_topk(
        spark, SF_DIR, query_id=qids[0], k=10, nprobe=16,
        root=str(tmp_path), rerank=200,
    ).collect()
    for r in rows:
        assert exact[qids[0]].get(r.neighbor_id, r.cosine_sim) == r.cosine_sim


def test_ivf_store_scores_match_inline_quantized(spark, tmp_path):
    # the store's qvec column must be EXACTLY the inline quantization
    # of the source vectors: score the probed cells via the store and
    # via with_quantized on the raw table restricted to the same ids —
    # identical to the last bit (int dot/norms, one IEEE division)
    p = quantized.ensure_ivf_store(spark, SF_DIR, num_cells=16, root=str(tmp_path))
    store = spark.read.parquet(str(p / "data"))
    stored = quantized.ivf_stored_topk(
        spark, SF_DIR, query_id=0, k=10, nprobe=4, root=str(tmp_path)
    ).collect()
    ids = [r.neighbor_id for r in stored] + [0]
    from clickhouse_realtime_analytics_demo_spark import catalog

    emb = catalog.table(spark, SF_DIR, "embeddings").filter(F.col("vec_id").isin(ids))
    inline = {
        r.neighbor_id: r.cosine_sim
        for r in similarity.quantized_topk(emb, query_id=0, k=len(ids)).collect()
    }
    for r in stored:
        assert inline[r.neighbor_id] == r.cosine_sim


def test_int_cosine_wide_int32_no_wrap(spark):
    # ADVICE r10: elements are widened to bigint BEFORE multiplying;
    # 100000^2 overflows int32 — the old form wrapped silently.
    df = spark.createDataFrame([([100_000, 0], [100_000, 0])], "a array<int>, b array<int>")
    (got,) = df.select(similarity.int_cosine(F.col("a"), F.col("b")).alias("c")).collect()
    assert abs(got["c"] - 1.0) < 1e-12
