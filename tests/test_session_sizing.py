"""Engine-owned shuffle sizing (VERDICT r14 #1): the session pins a
data-proportional AQE ceiling — shuffles START high and coalesce DOWN
by bytes — replacing the fixed ``shuffle.partitions = cores`` that the
sf6 as-of rung outgrew (spill, 8.5x wall for 6x data; hand-swept 256
restored sub-linear). These tests pin the rule and the conf wiring so
a refactor can't silently regress back to the hand sweep; the probe
side (`scale_probe.py asofsf6`) asserts the resulting behavior."""

from __future__ import annotations

from clickhouse_realtime_analytics_demo_spark import session as session_mod


def test_initial_partition_rule(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    # ADVICE r15: an exported SPARK_GRAFT_INITIAL_SHUFFLE would
    # override every assert below spuriously
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_SHUFFLE", raising=False)
    # data-proportional (r15 second form, measured on the sf0.1 bench:
    # a blanket 256 ceiling cost 18-40%/query vs 32 — see session.py):
    # small data keeps the core floor, big data scales by 4 MiB/part
    mb = 1024 * 1024
    assert session_mod.initial_shuffle_partitions(32, 32, data_bytes=17 * mb) == 32
    assert session_mod.initial_shuffle_partitions(8, 8, data_bytes=17 * mb) == 8
    # the sf6 rung (~1.0 GB) lands on the swept 256 optimum, no sweep
    assert session_mod.initial_shuffle_partitions(32, 32, data_bytes=1024 * mb) == 256
    # clamped at 8192 for any data size
    assert session_mod.initial_shuffle_partitions(32, 32, data_bytes=10**15) == 8192
    # an explicit larger SPARK_GRAFT_SHUFFLE pin raises the floor too
    assert session_mod.initial_shuffle_partitions(4, 512, data_bytes=mb) == 512
    # no data directory known: the conservative 8 x floor fallback
    # (AQE coalesces down; erring high is the safe side)
    assert session_mod.initial_shuffle_partitions(32, 32) == 256
    assert session_mod.initial_shuffle_partitions("8", "8") == 64


def test_initial_partition_env_data_dir(monkeypatch, tmp_path):
    # the session derives data bytes from $SPARK_GRAFT_SF_DIR
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_SHUFFLE", raising=False)
    big = tmp_path / "blob"
    big.write_bytes(b"x" * (64 * 1024 * 1024))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert session_mod.initial_shuffle_partitions(8, 8) == 16  # 64 MiB / 4 MiB
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "missing"))
    assert session_mod.initial_shuffle_partitions(8, 8) == 64  # fallback


def test_initial_partition_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_INITIAL_SHUFFLE", "1024")
    assert session_mod.initial_shuffle_partitions(32, 32) == 1024


def test_default_driver_memory_from_host():
    # 60% of physical memory, capped at 48g, floored at 1g: a 15 GiB
    # host gets 9g instead of an overcommitted 48g
    gib = 2**30
    assert session_mod.default_driver_memory(15 * gib) == "9g"
    assert session_mod.default_driver_memory(16 * gib) == "9g"
    assert session_mod.default_driver_memory(128 * gib) == "48g"
    assert session_mod.default_driver_memory(1 * gib) == "1g"
    # no argument: derived from this process's host, inside the bounds
    got = int(session_mod.default_driver_memory().rstrip("g"))
    assert 1 <= got <= 48


def test_session_sets_aqe_ceiling(spark):
    """The shared test session (get_spark cpus=8, shuffle=8) must carry
    the rule's conf: AQE on, coalescing on, ceiling = rule(8, 8)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    got = int(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    )
    # the rule is env-sensitive ($SPARK_GRAFT_SF_DIR); assert the conf
    # matches the rule under the same env rather than a literal
    assert got == session_mod.initial_shuffle_partitions(8, 8)


def test_spread_partitions_data_proportional(spark, tmp_path):
    """Explicit-repartition sizing follows the source bytes with the
    core floor at small scale, and falls back to the floor for frames
    with no measurable file source."""
    path = str(tmp_path / "t")
    spark.range(50_000).write.parquet(path)
    df = spark.read.parquet(path)
    size = session_mod.source_bytes(df)
    assert size and size > 0

    # small data: the floor wins
    assert session_mod.spread_partitions(df, floor=16) == 16
    # data-proportional once bytes exceed floor * target
    tiny_target = max(size // 64, 1)
    got = session_mod.spread_partitions(df, floor=16, target_bytes=tiny_target)
    assert 16 < got <= 8192
    assert got == -(-size // tiny_target)  # ceil
    # ceiling clamps
    assert session_mod.spread_partitions(df, floor=16, target_bytes=1, ceiling=64) == 64

    # no file source (literal frame): floor fallback
    lit = spark.createDataFrame([(1,)], "x int")
    assert session_mod.spread_partitions(lit, floor=16) == 16


def test_size_probes_memoized(spark, tmp_path):
    """r16 (VERDICT r15 #2): one stat walk per path / file list per
    process — repeated probes (one per operator invocation) must hit
    the cache, not re-stat a potentially million-file dataset on the
    driver."""
    d = tmp_path / "data"
    d.mkdir()
    (d / "a.bin").write_bytes(b"x" * 1000)
    (d / "b.bin").write_bytes(b"y" * 500)

    before = session_mod.stat_walks
    first = session_mod._dir_bytes(str(d))
    assert first == 1500
    assert session_mod.stat_walks == before + 1
    for _ in range(3):
        assert session_mod._dir_bytes(str(d)) == first
    assert session_mod.stat_walks == before + 1  # no further walks

    path = str(tmp_path / "t2")
    spark.range(10_000).write.parquet(path)
    df = spark.read.parquet(path)
    before = session_mod.stat_walks
    size = session_mod.source_bytes(df)
    assert size and size > 0
    assert session_mod.stat_walks == before + 1
    # a fresh frame over the SAME files hits the cache
    assert session_mod.source_bytes(spark.read.parquet(path)) == size
    assert session_mod.stat_walks == before + 1


def test_stat_total_sampling_bound(tmp_path, monkeypatch):
    """Past the cap the probe stats a deterministic sample and
    extrapolates — bounded driver work at million-file scale, exact
    when files are uniform."""
    files = []
    for i in range(40):
        p = tmp_path / f"f{i:03d}"
        p.write_bytes(b"z" * 100)
        files.append(str(p))
    assert session_mod._stat_total(files) == 4000  # under cap: exact
    monkeypatch.setattr(session_mod, "_STAT_SAMPLE_CAP", 10)
    est = session_mod._stat_total(files)
    assert est == 4000  # uniform sizes: extrapolation is exact
    # and it really sampled: only ceil(40/10)-strided files are statted
    monkeypatch.setattr(session_mod, "_STAT_SAMPLE_CAP", 1)
    assert session_mod._stat_total(files) == 4000
