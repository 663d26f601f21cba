"""Partition-invariance sweep: run every registry query under two
contrasting physical-execution configurations and compare results.

The oracle gate (CORRECTNESS_r*.json) and the fuzz differential both
run at ONE physical configuration (local[32], shuffle=32, AQE on), so
they structurally cannot see a query whose *values* depend on physical
partitioning — nondeterministic `first()` without ordering, unsorted
`collect_set` leaking into a value column, float reduction order,
`monotonically_increasing_id`, per-partition seeded randomness. On a
1000-executor cluster the partitioning is nothing like local[32]; any
such query is silently wrong at scale even though every single-config
gate is green.

Config A (baseline = driver posture): shuffle.partitions=32, AQE on.
Config B (adversarial): shuffle.partitions=5, AQE off, scan splits
forced tiny (maxPartitionBytes=256k, openCostInBytes=0), broadcast
joins disabled (autoBroadcastJoinThreshold=-1 → every join becomes a
shuffle join). Same session, same data — conf is re-read at each
action, so physical plans differ while logical plans stay fixed.

Invariance contract: normalized (row-sorted, 1e-6-rounded) results must
be identical. Queries are expected to pass — this is a gate, not a
probe; exit status is the number of variant-dependent queries.

Usage:
    python tools/partition_invariance_sweep.py            # full registry
    python tools/partition_invariance_sweep.py -k text_   # name filter
    python tools/partition_invariance_sweep.py --sf /root/testdata/sf0.001
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"

# (conf key, baseline value, variant value) — all runtime SQL confs.
# The variant flips physical layout (partitions/splits/broadcast) AND
# execution internals (interpreted instead of whole-stage codegen,
# sort-based instead of object-hash aggregation), so a divergence
# also catches expression semantics that differ between the
# codegen and interpreted paths.
CONFS = [
    ("spark.sql.shuffle.partitions", "32", "5"),
    ("spark.sql.adaptive.enabled", "true", "false"),
    ("spark.sql.files.maxPartitionBytes", "134217728", "262144"),
    ("spark.sql.files.openCostInBytes", "4194304", "0"),
    ("spark.sql.autoBroadcastJoinThreshold", "10485760", "-1"),
    ("spark.sql.codegen.wholeStage", "true", "false"),
    ("spark.sql.execution.useObjectHashAggregateExec", "true", "false"),
]


def set_profile(spark, variant: bool) -> None:
    for key, base, var in CONFS:
        spark.conf.set(key, var if variant else base)


def run_once(queries, name, spark, sf_dir):
    pdf = queries[name](spark, sf_dir).toPandas()
    rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
    return rows, list(pdf.columns)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-k", default="", help="substring filter on query names")
    ap.add_argument("--sf", default=SF_DIR)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from procoggraph_spark.session import default_driver_memory

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from procoggraph_spark.queries import registry
    from tools.fuzz_sweep import normalize

    queries, _ = registry()
    names = [n for n in sorted(queries) if args.k in n]

    divergent = []
    for i, name in enumerate(names, 1):
        try:
            set_profile(spark, variant=False)
            arows, acols = run_once(queries, name, spark, args.sf)
            set_profile(spark, variant=True)
            brows, bcols = run_once(queries, name, spark, args.sf)
        except Exception as e:  # noqa: BLE001 - a crash IS a finding
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:200]}")
            divergent.append(name)
            continue
        finally:
            set_profile(spark, variant=False)
        if sorted(acols) != sorted(bcols):
            print(f"MISMATCH {name} cols {acols} vs {bcols}")
            divergent.append(name)
            continue
        an, bn = normalize(arows, acols), normalize(brows, bcols)
        if an != bn:
            # show the first differing normalized row from each side
            diff_a = next((r for r in an if r not in set(bn)), None)
            diff_b = next((r for r in bn if r not in set(an)), None)
            print(
                f"MISMATCH {name} rows {len(arows)} vs {len(brows)}\n"
                f"    base-only: {str(diff_a)[:160]}\n"
                f"    variant-only: {str(diff_b)[:160]}"
            )
            divergent.append(name)
        if i % 25 == 0:
            print(f"... {i}/{len(names)}", file=sys.stderr)
    print(f"PARTITION-INVARIANCE divergent: {len(divergent)} of {len(names)}")
    for n in divergent:
        print("  ", n)
    return len(divergent)


if __name__ == "__main__":
    sys.exit(main())
