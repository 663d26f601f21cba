"""SparkSession factory tuned for both the local test harness and the
100 TB posture.

Local mode is a single JVM; the knobs that matter there are shuffle
partition count (match cores, not the 200 default) and AQE. The same
builder is correct on a real cluster: AQE re-plans partition counts and
skew joins at runtime, so the static settings are starting points, not
load-bearing constants.

The driver heap (``spark.driver.memory``) is sized to the host: half of
the memory this process may use (physical memory, or the cgroup limit
when that is a number and lower), capped at 16 GB, so hosts with 32 GB
or more get 16g. The other half is for the JVM's off-heap memory, the
driver's Python process and one Python worker per core. G1 lets the old
generation grow toward the ceiling before collecting it, so a ceiling
near the host's whole memory gets a long-lived session killed by the
kernel. ``SPARK_GRAFT_DRIVER_MEM`` (e.g. ``4g``) overrides the derived
value; an explicit ``extra_conf`` entry still wins over both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_HEAP_CAP = 16 << 30
# cgroup v2, then v1; v1 reports "no limit" as a huge number
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _physical_memory_bytes() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def _memory_limit_bytes() -> int:
    """Memory this process may use: physical memory, or a numeric
    cgroup limit when it is lower (``max`` means no limit)."""
    limit = _physical_memory_bytes()
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit = min(limit, int(raw))
    return limit


def default_driver_memory() -> str:
    """``spark.driver.memory`` for this host: ``SPARK_GRAFT_DRIVER_MEM``
    when set, else half of :func:`_memory_limit_bytes` capped at 16g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    mb = min(_memory_limit_bytes() // 2, _DRIVER_HEAP_CAP) >> 20
    return f"{mb >> 10}g" if mb % 1024 == 0 else f"{mb}m"


def get_spark(
    app_name: str = "procoggraph_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE + coalesce + skew-join are on so runtime statistics fix partition
    sizing at any scale factor; Arrow is on for the Pandas-UDF operators;
    session timezone is pinned to UTC so timestamp semantics match the
    DuckDB oracle.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # managed-table home for the bucketed node/edge layout
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/procoggraph_warehouse"),
        )
        # 128 MB parquet split targets keep partitions executor-memory-sized
        # at large SF while still parallelizing small local runs.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # collect_set/collect_list aggregations: this engine's layout
        # discipline buckets AND sorts fact tables on their group key,
        # so sort-based aggregation streams each group with O(1) state
        # and no hash map — measured ~2x on the set-heavy report-card
        # query at two scales. Workloads aggregating unsorted streams
        # can flip it back via SPARK_GRAFT_CONF.
        .config("spark.sql.execution.useObjectHashAggregateExec", "false")
        # Vectorized two-level hash map for partial hash aggregation:
        # run-level interleaved A/B at sf0.1 shows ~20% median win on
        # the scan-agg family (a1 0.273 -> 0.216 s median, best-of-8
        # parity elsewhere) and no regressions; it only engages for
        # supported key/value types and falls back silently otherwise,
        # so the cluster posture is unchanged where it doesn't apply.
        .config("spark.sql.codegen.aggregate.map.vectorized.enable", "true")
        # Long-lived sessions (the driver runs dozens of queries in one)
        # degrade set-heavy aggregations 2-5x as dereferenced shuffle /
        # broadcast state accumulates: the ContextCleaner only reclaims
        # it after a driver GC, and an idle multi-GB heap can go 30+ min
        # (the default periodicGC interval) without one. Force the cycle
        # every 2 min; overridable via SPARK_GRAFT_CONF.
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    if master.startswith("local"):
        # single-JVM shuffle never crosses a network and its files sit in
        # page cache; LZ4 encode/decode is pure CPU overhead there (~10%
        # on sort/window-heavy plans). Cluster deployments keep the
        # defaults — compression pays for itself as soon as blocks move.
        builder = builder.config("spark.shuffle.compress", "false").config(
            "spark.shuffle.spill.compress", "false"
        )
        # Python workers import from their own environment, not the
        # driver's sys.path: put this package's parent directory on it,
        # so operators run whatever the working directory.
        pythonpath = os.pathsep.join(filter(None, (
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            os.environ.get("PYTHONPATH"),
        )))
        builder = builder.config("spark.executorEnv.PYTHONPATH", pythonpath)
    # runtime tuning without code edits: SPARK_GRAFT_CONF="k=v;k2=v2"
    # (deploy-site overrides — executor sizing, compression codec, AQE
    # advisory sizes); explicit extra_conf still wins.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in filter(None, (p.strip() for p in env_conf.split(";"))):
        k, _, v = pair.partition("=")
        if k and v:
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def input_bytes(sf_dir: str) -> int | None:
    """Total size of the files under ``sf_dir``, or None when it is not
    a readable directory (``os.walk`` on a missing path yields nothing,
    so without the check an unknown input would read as empty)."""
    if not os.path.isdir(sf_dir):
        return None
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
    except OSError:
        return None
    return total


def apply_adaptive_policy(
    spark: SparkSession,
    sf_dir: str,
    *,
    threshold_bytes: int = 1 << 30,
    interactive_bytes: int = 1 << 26,
) -> bool:
    """Size-aware session tuning, three regimes by TOTAL INPUT SIZE
    under ``sf_dir`` (data size, not a bench flag — the same session
    serves sf0.01 interactively and 100 TB adaptively):

    1. **Interactive** (< ``interactive_bytes``, 64 MB): sub-second
       dashboard serving. AQE off — its per-query re-optimization
       rounds cost 30-40% of wall-clock on sub-0.3 s queries (a1
       0.25→0.16 s at sf0.1) — and AQE's partition-coalescing rule is
       applied STATICALLY instead: one shuffle partition per ~2 MB of
       input, clamped [4, cores] (a shuffle moving a few MB must not
       launch one task per core; measured best-of-3 interleaved at
       sf0.1: 12-query suite 3.47→3.08 s, the floor-bound
       a1/p6/stream_session each ~0.24→~0.15 s).
    2. **Single-node crossover** (64 MB – 1 GB): queries run 0.3-3 s,
       AQE's planning cost is noise and its runtime coalescing pays;
       the binding constraint becomes SCAN parallelism — the 128 MB
       split target packs a ~250 MB table into 2 tasks, serializing
       scan-heavy plans on one core. ``files.minPartitionNum = 2×cores``
       re-splits row groups so every core engages (measured at the 10×
       probe, best-of-3 interleaved: a1 2.0→0.26 s, w5 1.25→0.40 s,
       text_quality 0.91→0.14 s, j7 0.55→0.50 s; nothing regressed).
    3. **Cluster scale** (≥ 1 GB, and any real deployment): stock
       posture — AQE on, 128 MB split targets, shuffle partitions at
       cores as the starting point AQE re-plans from. minPartitionNum
       is left at its default: at many-executor scale the file count
       already exceeds total cores and forced fine splits only add
       scheduling overhead.

    Returns the resulting AQE state."""
    total = input_bytes(sf_dir)
    if total is None:
        # unknown input: assume the cluster regime rather than throttle
        # a real run as interactive
        total = threshold_bytes
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    base = int(cpus) if cpus.isdigit() else 32
    if total < interactive_bytes:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        target = max(4, min(base, total // (2 << 20)))
        spark.conf.set("spark.sql.shuffle.partitions", str(target))
        spark.conf.unset("spark.sql.files.minPartitionNum")
        return False
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(base))
    if total < threshold_bytes:
        spark.conf.set("spark.sql.files.minPartitionNum", str(2 * base))
    else:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    return True


def formatted_plan(df, mode: str = "formatted") -> str:
    """Rendered physical plan for plan assertions and audits — the same
    JVM entry point pyspark's own ``DataFrame.explain()`` prints
    through (``PythonSQLUtils.explainString`` resolves the mode string
    and renders the query execution). Centralized here so the one
    PySpark-internal touchpoint has exactly one fix site across tools
    and tests if a version changes it."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_pending_checkpoint(df) -> bool:
    """True when ``df``'s analyzed plan reads an RDD that is marked for
    checkpointing but not yet checkpointed: a lazy ``localCheckpoint``
    before its first action. An eager checkpoint, or a lazy one an
    action already ran, reads False. ``RDD.checkpointData`` is
    ``private[spark]`` in Scala but compiles to a public accessor, so
    py4j reaches it; like :func:`formatted_plan`, this is a JVM-internal
    touchpoint kept in one place."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() != "LogicalRDD":
            continue
        rdd = leaf.rdd()
        if rdd.checkpointData().isDefined() and not rdd.isCheckpointed():
            return True
    return False


def register_sql_functions(spark: SparkSession) -> None:
    """Register the engine's custom kernels as SQL functions so the
    ``spark.sql`` surface is self-contained (SURVEY §4: parity_score,
    canonical_smiles, ec_range_compress, inscode_sort — ad-hoc SQL
    replaces ad-hoc Cypher, §3.3). These are the legitimately-Python
    kernels; relational logic stays in built-ins."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from procoggraph_spark.functions import chem

    spark.udf.register("canonical_smiles", chem.canonical_smiles)
    spark.udf.register("molecular_descriptors", chem.molecular_descriptors)

    @F.pandas_udf(T.DoubleType())
    def parity_score(a, b):
        import pandas as pd

        out = chem.score_pairs_batch(
            pd.DataFrame({"pdb_smiles": a, "cognate_smiles": b})
        )
        return out["score"]

    spark.udf.register("parity_score", parity_score)

    def _ec_range_compress(nums):
        if not nums:
            return ""
        vals = sorted(set(nums))
        segs, lo = [], vals[0]
        prev = lo
        for v in vals[1:]:
            if v != prev + 1:
                segs.append((lo, prev))
                lo = v
            prev = v
        segs.append((lo, prev))
        return ",".join(str(a) if a == b else f"{a}-{b}" for a, b in segs)

    spark.udf.register("ec_range_compress", _ec_range_compress, T.StringType())

    def _inscode_sort(tokens):
        import re

        def k(tok):
            m = re.match(r"^(\d+)_*(\D*)", tok)
            return (int(m.group(1)) if m and m.group(1) else 0,
                    m.group(2) if m else "", tok)

        return "|".join(sorted(tokens or [], key=k))

    spark.udf.register("inscode_sort", _inscode_sort, T.StringType())


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, *, register_views: bool = True):
    """Load the driver's star-schema parquet tables; optionally register
    each as a temp view so ``spark.sql`` is a full query surface
    (SURVEY §3.3: arbitrary SQL replaces arbitrary Cypher).
    """
    from procoggraph_spark.queries.common import t

    dfs = {}
    for name in TPCH_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = t(spark, sf_dir, name)
            dfs[name] = df
            if register_views:
                df.createOrReplaceTempView(name)
    return dfs
