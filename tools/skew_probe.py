"""Hot-key skew probe: inject a whale customer into sf0.1, then prove
the engine's three skew answers agree and measure them.

At 100 TB the deadliest join shape is a hot key — one reducer receives
the head key's entire probe set while the rest of the cluster idles.
The repo ships two mitigations (AQE skew-join via runtime stats;
explicit salting via ``operators.skew.salted_join``) and one diagnostic
(``key_skew_audit``). This probe exercises all three on data that is
ACTUALLY skewed — the driver's TPC-H-ish testdata is uniform, so no
oracle run ever sees a hot key.

Corpus: a clone of sf0.1 where 30% of ``orders`` rows are rewritten to
one ``o_custkey`` (a whale account — the realistic shape of any
consumer dataset). All other tables are byte-identical copies.

Probe query (the realistic 100 TB posture: broadcast disabled, so the
customer join is a genuine shuffle join on the skewed key):

    orders ⋈ customer ON custkey → groupBy c_mktsegment
      → (n_orders, sum_totalprice)

run three ways: AQE with skew-join forced down to local thresholds,
AQE off (the naive single-hot-reducer plan), and ``salted_join``
(salts=16). All three must produce identical rows; the probe exits
non-zero if they disagree or if the skewed corpus's head-key share is
not the injected 30%.

Output: one JSON line per BENCH.md convention.

Usage:  python tools/skew_probe.py [--regen]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKEW_DIR = "/tmp/procoggraph_skew_sf"
SRC_DIR = "/root/testdata/sf0.1"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
HOT_FRACTION_SLOTS = 10  # o_orderkey % 10 < 3  →  30% of orders


def build_corpus(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(SKEW_DIR):
        shutil.rmtree(SKEW_DIR)
    os.makedirs(SKEW_DIR)
    for t in TABLES:
        src = os.path.join(SRC_DIR, f"{t}.parquet")
        if t == "orders":
            df = spark.read.parquet(src)
            hot = df.agg(F.min("o_custkey")).collect()[0][0]
            df = df.withColumn(
                "o_custkey",
                F.when(F.col("o_orderkey") % 10 < 3, F.lit(hot)).otherwise(
                    F.col("o_custkey")
                ),
            )
            # many files → many map tasks. AQE splits a skewed reduce
            # partition along MAPPER boundaries, so a single-mapper
            # shuffle is unsplittable no matter how skewed — locally we
            # must reproduce the many-mapper shape a cluster always has.
            df.repartition(16).write.mode("overwrite").parquet(
                os.path.join(SKEW_DIR, "orders.parquet")
            )
        else:
            shutil.copy(src, os.path.join(SKEW_DIR, f"{t}.parquet"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--regen", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from procoggraph_spark.session import default_driver_memory

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.regen or not os.path.exists(SKEW_DIR):
        print("building skew corpus ...", file=sys.stderr)
        build_corpus(spark)

    from procoggraph_spark.operators.skew import key_skew_audit, salted_join
    from procoggraph_spark.queries.common import t

    # --- diagnostic: the audit must see the injected whale -------------
    orders = t(spark, SKEW_DIR, "orders")
    head = key_skew_audit(orders, "o_custkey", top_k=1).collect()[0]
    head_share = float(head["row_share"])
    if not 0.25 <= head_share <= 0.35:
        print(f"FAIL: head-key share {head_share} not the injected ~0.30")
        return 1

    customer = t(spark, SKEW_DIR, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def agg_of(joined):
        return joined.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(20,2)"))
            .cast("double")
            .alias("sum_totalprice"),
        )

    plain = agg_of(orders.join(customer, orders.o_custkey == customer.c_custkey))
    salted = agg_of(
        salted_join(
            orders.withColumnRenamed("o_custkey", "c_custkey"),
            customer,
            key_col="c_custkey",
            salt_from="o_orderkey",
            salts=16,
        )
    )

    # realistic 100 TB posture: the dim does NOT fit a broadcast
    base_confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # same scan shape (one map task per file) in every profile so
        # the timing deltas isolate the join strategy, not the scan
        "spark.sql.files.maxPartitionBytes": "131072",
        "spark.sql.files.openCostInBytes": "0",
    }
    profiles = {
        # AQE skew-join forced down to local data sizes (the defaults
        # are cluster-scale: 256 MB thresholds never trip on ~5 MB).
        # Tiny scan splits make every corpus file its own map task —
        # skew specs split on mapper boundaries, so mapper count IS the
        # split granularity. forceOptimizeSkewedJoin because the probe
        # aggregates after the join (an extra shuffle AQE would
        # otherwise refuse to risk).
        "aqe_skew": {
            **base_confs,
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
        # the naive plan: one reducer owns the whale
        "no_aqe": {
            **base_confs,
            "spark.sql.adaptive.enabled": "false",
        },
    }

    def run(df, confs) -> tuple[list, float, str]:
        saved = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            df.count()  # warm (scan cache, codegen)
            t0 = time.perf_counter()
            rows = df.collect()
            dt = time.perf_counter() - t0
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        norm = sorted(
            (r["c_mktsegment"], r["n_orders"], round(r["sum_totalprice"], 2))
            for r in rows
        )
        return norm, dt, plan

    res_aqe, t_aqe, plan_aqe = run(plain, profiles["aqe_skew"])
    res_naive, t_naive, _ = run(plain, profiles["no_aqe"])
    res_salt, t_salt, _ = run(salted, profiles["no_aqe"])

    ok = res_aqe == res_naive == res_salt
    # a skew-handled SMJ prints AQEShuffleRead children with skewed
    # partition specs; the SMJ node itself carries isSkewJoin=true
    skew_engaged = any(
        ("AQEShuffleRead" in ln and "skewed" in ln)
        or ("SortMergeJoin" in ln and "true" in ln.rsplit(",", 1)[-1])
        for ln in plan_aqe.splitlines()
    )
    print(
        json.dumps(
            {
                "metric": "skew_probe",
                "sf": 0.1,
                "head_key_share": head_share,
                "head_skew_ratio": float(head["skew_ratio"]),
                "results_agree": ok,
                "aqe_skew_split_engaged": skew_engaged,
                "sec": {
                    "aqe_skew_join": round(t_aqe, 3),
                    "naive_single_reducer": round(t_naive, 3),
                    "salted_join_16": round(t_salt, 3),
                },
            }
        )
    )
    if not ok:
        print("FAIL: strategies disagree")
        print("  aqe  :", res_aqe[:3])
        print("  naive:", res_naive[:3])
        print("  salt :", res_salt[:3])
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
