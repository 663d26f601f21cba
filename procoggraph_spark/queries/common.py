"""Shared helpers for the oracle-checked query surface.

Determinism discipline (the driver hash-compares Spark vs DuckDB):

- Money/measure sums go through ``DECIMAL`` so addition is exact and
  associative (double summation order differs between engines); the final
  column is cast back to DOUBLE so both engines hand pandas a float64.
- Every computed column is aliased identically in the Spark plan and the
  oracle SQL.
- Top-k queries always order by a unique tiebreak key.

Lazy ``localCheckpoint(eager=False)`` discipline (central note — the
r12 advisory asked for this trade to be stated once, not per call
site): frames with MULTIPLE consumers in one plan (shared frequency
tables, builder inputs, first-order tables, model-sized feature
frames) are lazily localCheckpoint-ed so the shared lineage executes
once per query run instead of once per consumer — Catalyst has no
plan-level CSE across broadcast subqueries or sibling aggregates.
The trade: a localCheckpoint truncates lineage into UNREPLICATED
executor-local blocks, so losing an executor mid-query makes that
query's run unrecoverable (it must be resubmitted from the parquet
inputs; no data is at risk). That is the right default for this
engine's interactive/serving queries, where a retry is cheap and the
2x-6x lineage dedup is paid on every run. Deployments that need
mid-query fault tolerance on long batch runs should swap the call
sites to ``persist(StorageLevel.MEMORY_AND_DISK)`` (recomputable
lineage, same single-evaluation effect) or reliable ``checkpoint()``
with a checkpoint dir — the operators' correctness does not depend on
which of the three materializers is used.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from procoggraph_spark.session import input_bytes


# The one query table: name -> (builder, DuckDB oracle SQL or None,
# (why no portable oracle, what certifies the values) or None), filled
# by ``q`` as each ``star_*`` module is imported; ``registry()`` reads it.
REGISTRY: dict[str, tuple] = {}


def q(
    name: str,
    oracle: str | None = None,
    *,
    rows_only: tuple[str, str] | None = None,
):
    """Register ``fn(spark, sf_dir) -> DataFrame`` as query ``name``.
    Exactly one of ``oracle`` (the DuckDB SQL twin) and ``rows_only``
    (a ``(why no engine-portable oracle can exist, which green check
    certifies the values instead)`` pair, listed in QUERIES.md) is
    given, and a name registers once."""
    if (oracle is None) == (rows_only is None):
        raise ValueError(
            f"query {name!r}: give exactly one of oracle and rows_only"
        )

    def wrap(fn):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        REGISTRY[name] = (fn, oracle, rows_only)
        return fn

    return wrap


_TABLE_MEMO: dict[tuple[int, str, str, str | None], DataFrame] = {}
_BUCKETED: dict[int, str] = {}


def t(
    spark: SparkSession, sf_dir: str, name: str, *, widen_on: str | None = None
) -> DataFrame:
    """Read one star-schema table (per-table read keeps parquet column
    pruning and predicate pushdown visible in the plan). DataFrame
    handles are memoized per (session, dir, table): schema/footer
    resolution costs ~100ms per call and the driver runs dozens of
    queries against the same session.

    Storage-layout normalization on ingest: parquet scans are
    row-group-atomic, so a large single-row-group file executes its scan
    + every map-side stage (filter, partial agg, broadcast-join probe)
    as ONE task. A real 100 TB layout is many files/row groups and never
    has this shape; when the local test file does, it is staged once
    into a splittable multi-file copy (sub-second for the test sizes) —
    the same re-layout any engine performs at ingest.

    ``widen_on`` declares the downstream join/group key; tables above
    the staging size gate are additionally staged as a bucketed+sorted
    catalog table on that key, so every groupBy/join/window clustered on
    it runs exchange-free (the layout SURVEY §4 prescribes for the
    node/edge stores, applied at ingest). Callers can check whether the
    bucketed path was taken with ``bucketed_key(df)``.

    The driver's `events` table stores TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; read it as long (runtime-settable legacy
    conf) and truncate to micros with exact integer division — the same
    ns→us truncation DuckDB applies, so oracles agree.
    """
    # Pin UTC at query time: the caller's session may not have it, and
    # timestamp values otherwise collect tz-shifted vs the DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.join(sf_dir, f"{name}.parquet")
    # memo keyed on the source signature for EVERY table, not just
    # embeddings' eager dominant-dim literal: the bucketed and staged
    # load paths both materialize a physical copy, so a mid-session
    # rewrite under the same path must miss here to re-reach
    # _bucketed_table's marker check — otherwise the memoized handle
    # serves the stale catalog/staged layout (round-11 advisory).
    key = (id(spark), sf_dir, name, widen_on, _src_signature(src))
    if key in _TABLE_MEMO:
        return _TABLE_MEMO[key]
    if widen_on and name != "events":
        df = _bucketed_table(spark, src, widen_on)
        if df is not None:
            if name == "embeddings":
                # the load contract must hold on EVERY path out of t()
                df = valid_dim(df)
            _BUCKETED[id(df)] = widen_on
            _TABLE_MEMO[key] = df
            return df
    path = _staged_splittable(src)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        # Table-level event-time contract (see valid_ts): a timestamp
        # outside the portable representation window is corrupted-clock
        # data and degrades to NULL at load, so every consumer — window
        # buckets, pandas folds, raw-ts outputs — inherits one boundary.
        # The oracle twin is the registry-level events CTE
        # (gate_events_oracle); the two gates must stay in lockstep.
        df = df.withColumn("ts", valid_ts(F.col("ts")))
    else:
        df = spark.read.parquet(path)
    if name == "embeddings":
        # Table-level dimension-coherence contract (see valid_dim): a
        # ragged vector degrades to NULL at load so every consumer —
        # dot folds, GEMM kernels, quantizers — inherits one boundary.
        # The oracle twin is the registry-level embeddings CTE
        # (gate_embeddings_oracle); the two gates must stay in lockstep.
        df = valid_dim(df)
    df = _ntz_to_ltz(df)
    _TABLE_MEMO[key] = df
    return df


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (session-UTC).

    Parquet written without timezone metadata reads as TIMESTAMP_NTZ in
    Spark 4, which watermarks reject and numeric casts refuse. With the
    session pinned to UTC the reinterpretation is value-identical to the
    DuckDB oracle's naive timestamps."""
    ntz = [name for name, dt in df.dtypes if dt == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def bucketed_key(df: DataFrame) -> str | None:
    """The key ``df`` is physically bucketed on, if ``t`` staged it so.
    (Keyed by id(); safe because every such df is pinned in the memo.)"""
    return _BUCKETED.get(id(df))


_BUCKET_COUNT_MEMO: dict[str, int] = {}


def _bucket_count(sf_dir: str) -> int:
    """Scale-adaptive bucket count for the staged bucketed layout,
    derived from the TOTAL input size under ``sf_dir`` (data size, not
    core count — the same dataset gets the same layout at any
    parallelism, so the driver's core-scaling bench compares like with
    like). Mirrors ``apply_adaptive_policy``'s regimes:

    - Local/test (< 1 GiB): ~2 MB per bucket, floor 8 — at sf0.1
      (17 MB) that is 8 buckets, where the fixed 32 forced a 32-task
      stage on every bucketed scan/SMJ (measured: a 32-wide stage costs
      ~283 ms vs ~110 ms at 8 on an 11 MB input; the work is the same,
      the scheduling floor is not).
    - Cluster (>= 1 GiB): ~256 MB per bucket (guide §6 file sizing),
      clamped to [32, 4096].

    Co-bucketed joins (lineitem ⋈ orders on the orderkey) need EQUAL
    counts on both sides, so the count is a per-dataset constant —
    every table under one ``sf_dir`` buckets the same way."""
    if sf_dir in _BUCKET_COUNT_MEMO:
        return _BUCKET_COUNT_MEMO[sf_dir]
    total = input_bytes(sf_dir) or 0
    if total >= (1 << 30):
        n = max(32, min(4096, total // (256 << 20)))
    else:
        n = max(8, total // (2 << 20))
    _BUCKET_COUNT_MEMO[sf_dir] = int(n)
    return int(n)


def _bucketed_table(spark: SparkSession, path: str, key: str) -> DataFrame | None:
    """Stage ``path`` as a bucketed, per-bucket-sorted external catalog
    table on ``key``. One file per bucket (the repartition before the
    write aligns writer tasks with bucket ids, both Murmur3 pmod), so
    the scan reports HashPartitioning(key, N) + sorted-within-bucket and
    downstream groupBy/join/window on ``key`` plan with no Exchange.

    The parquet data survives the session; a later session re-registers
    the existing files with a metadata-only CREATE TABLE. Any failure
    falls back to the plain splittable path (never worse than before).
    """
    try:
        # lower gate than the generic splittable staging: the caller
        # explicitly declared the key, and a 1 MB+ fact side already
        # repays the one-time write by dropping a per-query shuffle.
        # Directories (the shape real tables have) qualify by total size.
        if os.path.isfile(path):
            size = os.path.getsize(path)
        elif os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if os.path.isfile(os.path.join(path, f))
            )
        else:
            return None
        if size <= (1 << 20):
            return None
        buckets = _bucket_count(os.path.dirname(path.rstrip("/")))
        # bucket count is part of the layout identity: a count change
        # (the data grew) must re-stage, never re-register
        # existing files under a mismatched CLUSTERED BY declaration
        digest = hashlib.sha1(f"{path}|{key}|{buckets}".encode()).hexdigest()[:12]
        tbl = f"stage_b_{digest}"
        loc = os.path.join(_STAGE_ROOT, "bucketed", digest)
        marker = os.path.join(loc, "_SOURCE_MTIME")
        src_mtime = str(os.stat(path).st_mtime_ns)
        data_ok = os.path.isfile(marker) and open(marker).read() == src_mtime
        if data_ok and spark.catalog.tableExists(tbl):
            return spark.table(tbl)
        if data_ok:
            # files from a prior session: metadata-only re-registration
            ddl = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in spark.read.parquet(loc).schema.fields
            )
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(
                f"CREATE TABLE {tbl} ({ddl}) USING PARQUET "
                f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
                f"INTO {buckets} BUCKETS LOCATION '{loc}'"
            )
            return spark.table(tbl)
        src = spark.read.parquet(_staged_splittable(path))
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            src.repartition(buckets, key)
            .write.mode("overwrite")
            .bucketBy(buckets, key)
            .sortBy(key)
            .option("path", loc)
            .saveAsTable(tbl)
        )
        with open(marker, "w") as fh:
            fh.write(src_mtime)
        return spark.table(tbl)
    except Exception:
        return None


_STAGE_MEMO: dict[tuple, str] = {}
_STAGE_ROOT = os.environ.get("SPARK_GRAFT_STAGE_DIR", "/tmp/procoggraph_stage")
_STAGE_FILES = 16


def _text_dominant(meta) -> bool:
    """True when string (BYTE_ARRAY) columns carry the majority of a
    parquet file's bytes — the signature of a text table, whose
    per-row expression cost (shingling, language-ID, quality gates)
    dwarfs its scan cost. Read from row-group-0 column metadata, no
    data IO."""
    try:
        rg = meta.metadata.row_group(0)
        total = 0
        strings = 0
        for i in range(rg.num_columns):
            col = rg.column(i)
            total += col.total_compressed_size
            if col.physical_type == "BYTE_ARRAY":
                strings += col.total_compressed_size
        return total > 0 and strings / total > 0.5
    except Exception:
        return False


def _staged_splittable(path: str) -> str:
    """Return a splittable location for ``path``: the file itself if it
    already parallelizes (multiple row groups / small / a directory),
    else a staged multi-file copy under ``$SPARK_GRAFT_STAGE_DIR``,
    written once per source mtime and reused across sessions."""
    # memo keyed on (path, source signature), not path alone: a source
    # rewritten mid-session must re-stage, or the memo hands back a
    # stale staged copy that the _SOURCE_MTIME marker check below never
    # gets to see (round-10 advisor finding). One stat per call — the
    # marker mtime below derives from THIS signature, not a second
    # stat, so a rewrite landing between two stats can't stamp a
    # marker inconsistent with the memo key (round-11 advisory).
    sig = _src_signature(path)
    memo_key = (path, sig)
    if memo_key in _STAGE_MEMO:
        return _STAGE_MEMO[memo_key]
    out = path
    try:
        # Work-aware gate, because bytes are a bad proxy for work on
        # text tables: a numeric/vector table below 1 MB finishes its
        # single task faster than the scheduler splits (events at sf0.1
        # is 2 MB and its windowed scans gain ~2x from splitting), but
        # a STRING-DOMINANT table runs expression-heavy analytics
        # (shingles, lang-ID, quality gates) measured at ~0.4 ms/row —
        # a 600 KB documents file held a 2 s curation gate on ONE core
        # while 31 idled. Text tables therefore stage from 192 KB.
        size = os.path.getsize(path) if os.path.isfile(path) else 0
        if size > (192 << 10):
            import pyarrow.parquet as pq

            meta = pq.ParquetFile(path)
            gate = (192 << 10) if _text_dominant(meta) else (1 << 20)
            if size > gate and meta.num_row_groups < _STAGE_FILES:
                digest = hashlib.sha1(path.encode()).hexdigest()[:12]
                stage = os.path.join(_STAGE_ROOT, digest)
                marker = os.path.join(stage, "_SOURCE_MTIME")
                # sig is (mtime_ns, size) here: the staging branch only
                # runs for regular files (size gate above)
                src_mtime = str(sig[0])
                if not (
                    os.path.isfile(marker)
                    and open(marker).read() == src_mtime
                ):
                    tmp = f"{stage}__tmp_{os.getpid()}"
                    os.makedirs(tmp, exist_ok=True)
                    tbl = pq.read_table(path)
                    step = (tbl.num_rows + _STAGE_FILES - 1) // _STAGE_FILES
                    for i in range(_STAGE_FILES):
                        pq.write_table(
                            tbl.slice(i * step, step),
                            os.path.join(tmp, f"part-{i:03d}.parquet"),
                        )
                    with open(os.path.join(tmp, "_SOURCE_MTIME"), "w") as fh:
                        fh.write(src_mtime)
                    if os.path.isdir(stage):
                        import shutil

                        shutil.rmtree(stage)
                    os.replace(tmp, stage)
                out = stage
    except Exception:
        out = path
    _STAGE_MEMO[memo_key] = out
    return out


def dec2(c: Column) -> Column:
    return finite_num(c).cast("decimal(18,2)")


def dec4(c: Column) -> Column:
    return finite_num(c, bound=9.0e13).cast("decimal(18,4)")


def finite_num(c: Column, bound: float = 9.0e15) -> Column:
    """Usable-measure contract: a NaN/±Inf numeric (fp decode garbage,
    an overflowed upstream computation) OR a finite value beyond the
    representation band is an UNKNOWN measure and degrades to NULL,
    exactly like a missing value, instead of ANSI-crashing the
    integer/decimal cast it flows into (round(1e300*100)::long is
    CAST_OVERFLOW on Spark; DECIMAL(18,2) overflows on DuckDB) or
    poisoning a whole aggregate. ONE band predicate covers all four:
    both engines order NaN above +Inf above every real, so
    ``-bound <= c AND c <= bound`` is false for ±Inf, for NaN, and for
    out-of-band magnitudes alike. The default bound 9.0e15 is the
    DECIMAL(18,2)/long-cents intersection (the oracle twin's
    representation); SQL twin: ``CASE WHEN x >= -9.0e15 AND
    x <= 9.0e15 THEN x END``."""
    return F.when((c >= F.lit(-bound)) & (c <= F.lit(bound)), c)


# Portable event-time window: the intersection of every temporal
# representation a value crosses between engines and execution faces —
# (a) Arrow/pandas datetime64[ns] ([1677-09-21 00:12, 2262-04-11
# 23:47]; int64 ns since epoch), on EVERY Python-facing path:
# toPandas, Pandas UDFs, applyInPandas stateful folds; (b) Spark's
# F.window() bucket arithmetic (overflows at year 10000); (c) Spark
# Structured Streaming's WATERMARK ADMISSION DOMAIN — the initial
# watermark is EPOCH ZERO, so stateful streaming operators (session
# windows, dropDuplicatesWithinWatermark) treat any pre-1970 event
# time as already-late and silently drop it in the very first
# micro-batch (r10 streaming-fuzz finding: in-band 1678 sessions
# vanished from the stream face while 1970 sessions survived). A
# pre-epoch "event time" in an event pipeline is a zeroed/corrupted
# clock; admitting it on one face and losing it on another is worse
# than one shared floor. The ceiling is CALENDAR-GRAIN CLOSED (r10
# edge fuzz: an in-band edge event month-truncated/bucketed past the
# ns bound crashes the Arrow hop): any window/bucket END up to MONTH
# grain of a <= 2262-01-01 event stays far below the ns ceiling, and
# every calendar truncation of a post-epoch event stays >= epoch
# (ns-representable).
# PRODUCT INTENT (confirmed round 11, answering the r10 advisory): the
# epoch+1s floor is a deliberate, lossy narrowing applied to ALL faces
# — pre-epoch event times in this engine's event-analytics domain are
# always treated as corrupted-clock data (zeroed/underflowed clocks),
# never legitimate history, so the batch and oracle faces drop them in
# lockstep with the streaming admission domain rather than keeping an
# asymmetric wide band. Sub-second times inside (epoch, epoch+1s) fall
# with them: one second of 1970-01-01 is noise against a whole-second
# portable floor both engines can state literally. If a future
# deployment ever needs pre-epoch batch retention, revert the floor to
# the ns-representation bound (1677-09-21 00:13) and extend the
# _wm_admissible clamp (streaming/windows.py) to every windowed
# streaming operator instead.
TS_BAND_MIN = "1970-01-01 00:00:01"
TS_BAND_MAX = "2262-01-01 00:00:00"


def valid_ts(c: Column) -> Column:
    """Usable-event-time contract, the temporal twin of ``finite_num``:
    a timestamp outside the portable representation window
    [``TS_BAND_MIN``, ``TS_BAND_MAX``] is corrupted-clock data (a
    decoder emitting year-9999 sentinels, a negative-epoch clock) and
    degrades to NULL exactly like a missing timestamp — instead of
    crashing the Arrow→pandas hop every Python-facing path performs
    (OutOfBoundsDatetime beyond datetime64[ns]) or F.window's bucket
    arithmetic (ValueError at year 10000). NULL event time already has
    a pinned contract (NULL window group / excluded from sessions), so
    the degrade rides it. SQL twin: ``CASE WHEN x BETWEEN TIMESTAMP
    TS_BAND_MIN AND TIMESTAMP TS_BAND_MAX THEN x END`` (see
    ``gate_events_oracle``)."""
    lo = F.lit(TS_BAND_MIN).cast("timestamp")
    hi = F.lit(TS_BAND_MAX).cast("timestamp")
    return F.when((c >= lo) & (c <= hi), c)


# DuckDB twin of the t() events gate: a CTE shadowing the `events`
# view with ts band-gated (main.events escapes the CTE's own name —
# DuckDB binds a bare `events` inside it as a circular reference).
_EVENTS_GATED_CTE = (
    "events AS (SELECT event_id, CASE WHEN ts BETWEEN TIMESTAMP "
    f"'{TS_BAND_MIN}' AND TIMESTAMP '{TS_BAND_MAX}' THEN ts END AS ts, "
    "user_id, event_type, value, props FROM main.events)"
)


def gate_events_oracle(sql: str) -> str:
    """Splice the band-gated events CTE into an oracle that reads the
    `events` view, so the oracle sees the same portable-event-time
    domain ``t()`` gives every Spark-side consumer. Applied centrally
    by the registry to every oracle whose text references the table —
    a table-level load contract, not a per-query rewrite."""
    return _splice_cte(sql, _EVENTS_GATED_CTE)


def _splice_cte(sql: str, cte: str) -> str:
    body = sql.strip()
    upper = body.upper()
    if upper.startswith("WITH RECURSIVE"):
        return f"WITH RECURSIVE {cte}, " + body[len("WITH RECURSIVE"):].lstrip()
    if upper.startswith("WITH"):
        return f"WITH {cte}, " + body[len("WITH"):].lstrip()
    return f"WITH {cte} " + body


def _src_signature(src: str):
    """Mtime/size signature of a parquet file or directory (one stat or
    scandir, ~1 ms) — memo-key component for loads that embed
    eagerly-derived state."""
    try:
        if os.path.isdir(src):
            with os.scandir(src) as it:
                return tuple(sorted(
                    (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                    for e in it
                ))
        st = os.stat(src)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def valid_dim(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Well-formed-vector contract, the vector twin of ``valid_ts``:
    a vector whose length differs from the table's dominant (modal,
    tie -> smallest) length is ragged encoder output — a truncated
    write, a mixed-model-version feed, an empty emission — and
    degrades to a NULL vector at load, exactly like a missing
    embedding (whose contract is already pinned family-wide:
    unsearchable, excluded from populations). Without this, every
    fixed-dimension consumer is engine-dependent: DuckDB's
    list_inner_product RAISES on a length mismatch while Spark's
    zip_with NULL-pads (ragged-vectors fuzz leg, 13 divergent).

    A right-LENGTH vector carrying NULL components (a join-assembled
    vector with a missing feature, a JSON null mid-array) degrades the
    same way (round-11 NULL-component fuzz leg, 17 divergent): numpy
    silently reads a None element as NaN — rank poison — while
    DuckDB's list_inner_product raises on NULL components, so the only
    convergent treatment is the one incomplete encoder output deserves
    anyway: the vector is unusable, NULL at load.

    The dominant length is derived EAGERLY, once per memoized ``t()``
    load (one size-column aggregate with a deterministic total order —
    count desc, length asc), and embedded as a literal: the gate is
    then pure map-side column algebra, so the family's pinned plan
    shapes (map-only quantize, single-broadcast z-score, no nested-loop
    joins) are untouched — a lazy in-plan derivation costs a global-agg
    Exchange plus a broadcast join on EVERY execution. An empty or
    all-NULL table has no dominant length; every vector then degrades,
    matching the SQL twin's NULL scalar subquery, and no row is lost.
    At production scale the dimension is declared table metadata; this
    derives it because parquet list types carry no length. SQL twin:
    ``_EMB_GATED_CTE`` (see ``gate_embeddings_oracle``)."""
    sz = F.size(F.col(vec_col))
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .groupBy(sz.alias("_d"))
        .count()
        .orderBy(F.col("count").desc(), F.col("_d").asc())
        .select("_d")
        .first()
    )
    if row is None:
        return df.withColumn(
            vec_col, F.lit(None).cast(df.schema[vec_col].dataType)
        )
    has_null_component = F.exists(F.col(vec_col), lambda x: x.isNull())
    return df.withColumn(
        vec_col,
        F.when((sz == F.lit(row["_d"])) & ~has_null_component, F.col(vec_col)),
    )


# DuckDB twin of the t() embeddings gate: dominant length via the same
# count-desc, length-asc total order; an empty/all-NULL table makes the
# scalar subquery NULL and every CASE degrade — same as the Spark side.
# The surviving branch REBUILDS the list via list_transform+coalesce —
# the coalesce can never fire (the gate already excludes NULL-holed
# lists) but the rebuild is load-bearing: DuckDB's vectorized
# list_inner_product validates the chunk's CHILD buffer globally, so a
# NULL element anywhere in the scanned chunk crashes every consumer
# even when the row itself was CASE-degraded to NULL or filtered out
# (selection vectors keep the dirty child buffer; r11 NULL-component
# fuzz leg). coalesce's fallback is typed FLOAT so the element type —
# and any engine float arithmetic an oracle does — is unchanged.
_EMB_GATED_CTE = (
    "emb_dim AS (SELECT len(embedding) AS d FROM main.embeddings "
    "WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, 1 ASC LIMIT 1), "
    "embeddings AS (SELECT vec_id, CASE WHEN len(embedding) = "
    "(SELECT d FROM emb_dim) "
    "AND len(list_filter(embedding, x -> x IS NULL)) = 0 "
    "THEN list_transform(embedding, x -> coalesce(x, CAST(0.0 AS FLOAT))) "
    "END AS embedding, label "
    "FROM main.embeddings)"
)


def gate_embeddings_oracle(sql: str) -> str:
    """Splice the dimension-gated embeddings CTE into an oracle that
    reads the `embeddings` view — the SQL face of ``valid_dim``,
    applied centrally by the registry like ``gate_events_oracle``."""
    return _splice_cte(sql, _EMB_GATED_CTE)


def cents(c: Column, scale: int = 2) -> Column:
    """Fixed-point integer representation of a ``scale``-decimal measure
    (HALF_UP, same rounding a decimal cast applies). Long sums stay in
    whole-stage codegen — roughly half the per-row cost of Spark's
    Decimal aggregation buffer — and integer addition is exact and
    associative, so results are partitioning-independent like decimal.
    Overflow headroom: 9.2e18 cents ≈ 9.2e16 in measure units; beyond
    that (extreme 100 TB rollups) switch the final reduce to
    ``sum(cast(c as decimal(38,scale)))``. Inputs outside the
    representation band (non-finite, or magnitude past what
    DECIMAL(18,scale) and the long fold can hold) degrade to NULL via
    ``finite_num`` — a corrupt feed value must not crash the rollup."""
    return F.round(
        finite_num(c, bound=9.0 * 10 ** (17 - scale)) * (10 ** scale), 0
    ).cast("long")


def dsum2(c: Column) -> Column:
    """Exact sum of a 2-decimal measure, returned as double.

    ``sum(cents)/100.0`` is the correctly-rounded double of the exact
    decimal total — bit-identical to ``CAST(SUM(DECIMAL(18,2)) AS
    DOUBLE)`` on the oracle side (both round the same exact value once).
    """
    return F.sum(cents(c, 2)) / 100.0


def dsum4(c: Column) -> Column:
    return F.sum(cents(c, 4)) / 10000.0
