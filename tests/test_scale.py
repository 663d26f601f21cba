"""Scale operators: two-phase aggs must be result-identical to their
plain twins; co-bucketed joins must plan without an Exchange."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from procoggraph_spark.operators import scale as S
from tests.conftest import SF_ORACLE
from tests.test_plans import plan


@pytest.fixture(scope="module")
def skewed(spark):
    """90% of rows share one key — the shape AQE calls skew."""
    return spark.range(0, 20000).select(
        F.when(F.col("id") % 10 != 0, "HOT").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50).cast("string"))
        ).alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_two_phase_agg_matches_plain(spark, skewed):
    plain = {
        (r["k"]): (r["n"], r["s"], r["mx"])
        for r in skewed.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"), F.max("v").alias("mx"))
        .collect()
    }
    two = {
        (r["k"]): (r["count_v"], r["sum_v"], r["max_v"])
        for r in S.two_phase_agg(
            skewed, "k", {"v": "count"} | {}, salt=8
        ).join(
            S.two_phase_agg(skewed, "k", {"v": "sum"}, salt=8), "k"
        ).join(
            S.two_phase_agg(skewed, "k", {"v": "max"}, salt=8), "k"
        ).collect()
    }
    assert plain == two


def test_two_phase_agg_rejects_non_decomposable(spark, skewed):
    with pytest.raises(ValueError):
        S.two_phase_agg(skewed, "k", {"v": "median"})


def test_bucketed_join_no_exchange(spark):
    """Two tables bucketed on the join key: the join plans with zero
    Exchange — the co-located layout for the hot node/edge tables."""
    o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    c = spark.read.parquet(f"{SF_ORACLE}/customer.parquet")
    S.write_bucketed(o, "b_orders", bucket_col="o_custkey", n_buckets=8,
                     sort_col="o_custkey")
    S.write_bucketed(c.withColumnRenamed("c_custkey", "o_custkey"),
                     "b_customer", bucket_col="o_custkey", n_buckets=8,
                     sort_col="o_custkey")
    # force the large-large join path (broadcast would mask bucketing:
    # at 100 TB neither side of a fact-fact join broadcasts)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = S.bucketed_join(spark, "b_orders", "b_customer", "o_custkey")
        p = plan(spark, j)
        assert "Exchange" not in p
        assert "SortMergeJoin" in p
        expect = o.join(c, o.o_custkey == c.c_custkey).count()
        assert j.count() == expect
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_bucketed_ingest_staging_exchange_free_and_correct(spark, tmp_path):
    """`queries.common.t(widen_on=...)` stages >1 MB single-file tables
    as bucketed catalog tables: groupBy on the declared key must plan
    with no Exchange, and results must equal the plain read. (The
    driver's sf0.001/sf0.01 tables sit below the gate, so this path
    needs its own fixture.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from procoggraph_spark.queries.common import bucketed_key, t

    # ~2.4 MB of incompressible payload in ONE file, one row group
    import random

    rng = random.Random(7)
    n = 60_000
    tbl = pa.table(
        {
            "k": pa.array([i % 997 for i in range(n)], pa.int64()),
            "v": pa.array([rng.random() for _ in range(n)], pa.float64()),
            "pad": pa.array([rng.getrandbits(256).to_bytes(32, "big") for _ in range(n)]),
        }
    )
    sf_dir = str(tmp_path)
    pq.write_table(tbl, f"{sf_dir}/fact.parquet", compression="none")

    df = t(spark, sf_dir, "fact", widen_on="k")
    assert bucketed_key(df) == "k"
    agg = df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    p = plan(spark, agg)
    assert "Exchange" not in p, p
    assert "Bucketed: true" in p or "SelectedBucketsCount" in p, p

    plain = spark.read.parquet(f"{sf_dir}/fact.parquet")
    got = {r["k"]: (round(r["s"], 9), r["n"]) for r in agg.collect()}
    exp = {
        r["k"]: (round(r["s"], 9), r["n"])
        for r in plain.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    assert got.keys() == exp.keys()
    assert all(got[k][1] == exp[k][1] for k in got)


def test_range_compress_pre_clustered_flag_equivalent(spark):
    """`compress_int_ranges(pre_clustered=True)` must return the same
    rows as the self-repartitioning default (it only elides the
    explicit shuffle; a7 passes True when reading the bucketed stage)."""
    from procoggraph_spark.operators.ranges import compress_int_ranges

    rows = [(k, v) for k in range(50) for v in ([1, 2, 3, 7, 9] if k % 2 else [4, 5, 10])]
    df = spark.createDataFrame(rows, "k long, v long")
    a = sorted(map(tuple, compress_int_ranges(df, key="k", value="v").collect()))
    b = sorted(
        map(
            tuple,
            compress_int_ranges(df, key="k", value="v", pre_clustered=True).collect(),
        )
    )
    assert a == b
    assert dict(a)[1] == "1-3,7,9"


def test_adaptive_policy_regimes(spark, tmp_path):
    """The three size regimes of session.apply_adaptive_policy are
    load-bearing (they decide AQE, shuffle width, and scan splitting per
    session) — pin the selection against synthetic input dirs so a
    threshold or formula change fails loudly."""
    import os

    from procoggraph_spark.session import apply_adaptive_policy

    def make_dir(name, n_bytes):
        d = tmp_path / name
        d.mkdir()
        # sparse file: the policy only sums os.path.getsize, so the
        # 1 GiB regime probe must not allocate or write 1 GiB
        p = d / "data.parquet"
        with open(p, "wb") as f:
            f.truncate(n_bytes)
        return str(d)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    base = int(cpus) if cpus.isdigit() else 32
    before_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # interactive: AQE off, shuffle = size/2MB clamped [4, cores]
        assert apply_adaptive_policy(spark, make_dir("tiny", 10 << 20)) is False
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        # 10 MB / 2 MB = 5, clamped to [4, cores] — expectation must
        # apply the same clamp or the test breaks under low CPU budgets
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            max(4, min(base, 5))
        )
        assert (
            spark.conf.get("spark.sql.files.minPartitionNum", None) is None
        )
        # floor clamp
        apply_adaptive_policy(spark, make_dir("micro", 1 << 20))
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
        # crossover: AQE on, cores-wide shuffles, forced scan splitting
        assert apply_adaptive_policy(spark, make_dir("mid", 200 << 20)) is True
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(base)
        assert spark.conf.get("spark.sql.files.minPartitionNum") == str(2 * base)
        # cluster: stock posture, no forced split floor
        assert apply_adaptive_policy(spark, make_dir("big", 1 << 30)) is True
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert (
            spark.conf.get("spark.sql.files.minPartitionNum", None) is None
        )
        # unknown dir: assume cluster regime (never degrade a real run)
        assert apply_adaptive_policy(spark, str(tmp_path / "nope")) is True
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", before_sp)
        spark.conf.unset("spark.sql.files.minPartitionNum")


def test_bucket_count_from_input_bytes(tmp_path):
    """``session.input_bytes`` is the one size measurement both the
    adaptive policy and the bucket count read: None for a missing
    directory, which the bucket count takes as empty (8 buckets) while
    the policy takes it as cluster scale (pinned above)."""
    from procoggraph_spark.queries.common import _bucket_count
    from procoggraph_spark.session import input_bytes

    def make_dir(name, n_bytes):
        d = tmp_path / name
        d.mkdir()
        with open(d / "data.parquet", "wb") as f:
            f.truncate(n_bytes)  # sparse: only the size is read
        return str(d)

    missing = str(tmp_path / "nope")
    assert input_bytes(missing) is None
    assert input_bytes(make_dir("mb40", 40 << 20)) == 40 << 20
    assert _bucket_count(missing) == 8
    assert _bucket_count(str(tmp_path / "mb40")) == 20  # ~2 MB per bucket
    assert _bucket_count(make_dir("gb2", 2 << 30)) == 32  # cluster floor
    assert _bucket_count(make_dir("gb16", 16 << 30)) == 64  # 256 MB each


def test_leakage_split_survives_viral_dup_group(spark):
    """One document copied 50k times (the viral boilerplate case) must
    not break leakage_safe_split: the groupBy+join-back shape partially
    aggregates the hot key map-side and the join is AQE-skew-splittable
    — a window over the dup group would materialize all 50k copies in
    one partition. Correctness: every copy still lands in exactly the
    canonical's split."""
    from procoggraph_spark.operators.sampling import (
        deterministic_split,
        leakage_safe_split,
    )

    viral = spark.range(0, 50_000).select(
        F.col("id").alias("doc_id"), F.lit("the viral licence block").alias("kp")
    )
    tail = spark.range(50_000, 51_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("unique "), F.col("id").cast("string")).alias("kp"),
    )
    df = viral.unionByName(tail)
    out = leakage_safe_split(
        df, id_col="doc_id", key_cols=["kp"],
        fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    )
    agg = out.filter(F.col("kp") == "the viral licence block").agg(
        F.count("*").alias("n"),
        F.count_distinct("split").alias("n_splits"),
        F.count_distinct("canonical_id").alias("n_canon"),
        F.min("canonical_id").alias("canon"),
    ).collect()[0]
    assert agg["n"] == 50_000
    assert agg["n_splits"] == 1 and agg["n_canon"] == 1 and agg["canon"] == 0
    # and the split is the canonical's own deterministic split
    canon_split = deterministic_split(
        spark.createDataFrame([(0,)], "doc_id long"),
        id_col="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1},
    ).collect()[0]["split"]
    got = out.filter(F.col("kp") == "the viral licence block").select(
        "split").distinct().collect()[0]["split"]
    assert got == canon_split


def test_incremental_agg_refresh_equals_recompute(spark):
    """refresh(base_agg, delta) must equal recompute(base ∪ delta) for
    decomposable aggregates, including keys present only in the delta
    and an empty delta no-op."""
    from pyspark.sql import functions as F

    from procoggraph_spark.operators.scale import incremental_agg_refresh

    base = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "k string, v long"
    )
    delta = spark.createDataFrame(
        [("a", 1), ("c", 100)], "k string, v long"
    )
    mat = base.groupBy("k").agg(
        F.sum("v").cast("long").alias("v"), F.count("*").alias("n_rows")
    )
    got = sorted(
        map(
            tuple,
            incremental_agg_refresh(
                mat, delta, key_cols=["k"], sum_cols=["v"]
            ).collect(),
        )
    )
    full = sorted(
        map(
            tuple,
            base.unionByName(delta)
            .groupBy("k")
            .agg(
                F.sum("v").cast("long").alias("v"),
                F.count("*").cast("long").alias("n_rows"),
            )
            .collect(),
        )
    )
    assert got == full
    # empty delta: refresh is the identity on the materialized rows
    empty = spark.createDataFrame([], "k string, v long")
    noop = sorted(
        map(
            tuple,
            incremental_agg_refresh(
                mat, empty, key_cols=["k"], sum_cols=["v"]
            ).collect(),
        )
    )
    assert noop == sorted(map(tuple, mat.collect()))


def test_staging_gate_is_work_aware(spark, tmp_path):
    """The ingest re-layout gate treats bytes as a bad proxy for work on
    TEXT tables: a string-dominant single-row-group file stages (and
    re-parallelizes) from 192 KB, while a numeric/vector file of the
    same size keeps its single task (scan-bound; splitting only adds
    scheduler overhead). Staged reads are value-identical."""
    import pyarrow.parquet as pq

    from procoggraph_spark.queries.common import (
        _STAGE_MEMO,
        _staged_splittable,
        _text_dominant,
    )

    # hash-derived content so snappy cannot compress the payload away
    # (the gate reads COMPRESSED column sizes)
    n = 3_000
    text_df = spark.range(n).selectExpr(
        "id",
        "array_join(transform(sequence(0, 49),"
        " i -> concat('w', pmod(xxhash64(id, i), 100000))), ' ') AS text",
    )
    num_df = spark.range(n).selectExpr(
        "id",
        "transform(sequence(0, 49),"
        " i -> pmod(xxhash64(id, i), 100000) / 7.0) AS vec",
    )
    paths = {}
    for name, df in (("texty", text_df), ("numeric", num_df)):
        d = str(tmp_path / name)
        df.coalesce(1).write.parquet(d)
        f = [
            os.path.join(d, x)
            for x in os.listdir(d)
            if x.endswith(".parquet")
        ][0]
        # single file between 192 KB and 1 MB, one row group
        assert (192 << 10) < os.path.getsize(f) < (1 << 20), os.path.getsize(f)
        assert pq.ParquetFile(f).num_row_groups == 1
        paths[name] = f

    assert _text_dominant(pq.ParquetFile(paths["texty"]))
    assert not _text_dominant(pq.ParquetFile(paths["numeric"]))

    staged_text = _staged_splittable(paths["texty"])
    staged_num = _staged_splittable(paths["numeric"])
    try:
        assert staged_text != paths["texty"], "text table should stage"
        assert staged_num == paths["numeric"], "numeric table should not"
        got = spark.read.parquet(staged_text)
        assert got.count() == n
        assert got.rdd.getNumPartitions() > 1
        orig = spark.read.parquet(paths["texty"])
        assert got.exceptAll(orig).count() == 0
        assert orig.exceptAll(got).count() == 0
    finally:
        # staged dir lives under /tmp keyed by the tmp_path hash; drop
        # the memo entries so other tests never see these paths
        _STAGE_MEMO.pop(paths["texty"], None)
        _STAGE_MEMO.pop(paths["numeric"], None)
        import shutil

        if staged_text != paths["texty"]:
            shutil.rmtree(staged_text, ignore_errors=True)


def test_mid_session_rewrite_invalidates_table_memo(spark, tmp_path):
    """A source parquet rewritten mid-session must flow through to the
    next `t()` call — the memo is keyed on the source signature for
    EVERY table (round-11 advisory), so the bucketed catalog copy and
    the staged splittable copy both re-verify their _SOURCE_MTIME
    marker instead of serving the stale physical layout. Exercises the
    bucketed path (>1 MB + widen_on): v1 data is staged, the file is
    rewritten in place, and the second load must return v2 values."""
    import shutil

    from procoggraph_spark.queries.common import bucketed_key, t

    sf_dir = str(tmp_path)
    d = str(tmp_path / "part.parquet")

    def write(version: int):
        tmp = str(tmp_path / "_w")
        # ~1.3 MB of incompressible payload so the bucketed gate opens
        spark.range(6_000).selectExpr(
            "id AS p_partkey",
            f"{version} AS v",
            "array_join(transform(sequence(0, 49),"
            " i -> concat('w', pmod(xxhash64(id, i), 1000000))), ' ')"
            " AS pad",
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)

    try:
        write(1)
        df1 = t(spark, sf_dir, "part", widen_on="p_partkey")
        assert bucketed_key(df1) == "p_partkey", "bucketed path not taken"
        assert df1.selectExpr("max(v)").first()[0] == 1
        write(2)
        df2 = t(spark, sf_dir, "part", widen_on="p_partkey")
        assert df2.selectExpr("max(v)").first()[0] == 2, (
            "stale staged copy served after mid-session source rewrite"
        )
    finally:
        import hashlib

        from procoggraph_spark.queries.common import _STAGE_ROOT

        digest = hashlib.sha1(f"{d}|p_partkey".encode()).hexdigest()[:12]
        shutil.rmtree(
            os.path.join(_STAGE_ROOT, "bucketed", digest), ignore_errors=True
        )


def test_plan_memo_rebuilds_pending_checkpoints(spark, tmp_path):
    """The registry plan memo keeps a built frame unless its plan holds
    a lazy localCheckpoint no action has run yet: that one is rebuilt
    every call, so a repeated run recomputes instead of reading the
    first run's blocks. Eager checkpoints and plain plans are kept."""
    from procoggraph_spark.queries import _PLAN_MEMO, _plan_cached
    from procoggraph_spark.session import has_pending_checkpoint

    builders = {
        "_memo_lazy": lambda s, d: s.range(8).localCheckpoint(eager=False),
        "_memo_eager": lambda s, d: s.range(8).localCheckpoint(eager=True),
        "_memo_plain": lambda s, d: s.range(8),
    }
    try:
        got = {}
        for name, fn in builders.items():
            run = _plan_cached(name, fn)
            got[name] = (run(spark, str(tmp_path)), run(spark, str(tmp_path)))
        lazy_a, lazy_b = got["_memo_lazy"]
        assert lazy_a is not lazy_b
        assert got["_memo_eager"][0] is got["_memo_eager"][1]
        assert got["_memo_plain"][0] is got["_memo_plain"][1]
        # pins the JVM accessor the rule reads: an action materializes
        # the lazy checkpoint, an eager one never reads as pending
        assert has_pending_checkpoint(lazy_a)
        assert lazy_a.count() == 8
        assert not has_pending_checkpoint(lazy_a)
        assert not has_pending_checkpoint(got["_memo_eager"][0])
    finally:
        for key in [k for k in _PLAN_MEMO if k[2] in builders]:
            del _PLAN_MEMO[key]
