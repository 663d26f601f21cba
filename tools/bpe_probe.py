"""BPE trainer scale probe at PRODUCTION merge counts.

The unit probes (BENCH.md) measured 1 000 merges; a real tokenizer
needs 10k-50k. This tool runs `train_bpe` on the standard 50 k-doc
Zipfian corpus (20 k-word vocabulary, deterministic seed) at a
configurable merge count and reports ONE JSON line:

    {"merges": ..., "rounds": ..., "wall_s": ..., "batch_size": ...,
     "mode": "greedy"|"exact", "rounds_per_ideal": ...,
     "vocab_valid": true}

`rounds_per_ideal` is rounds / ceil(n_merges / batch_size) — 1.0 means
the packer fills every batch (the rounds ~ n/B sustain claim); exact
mode trades that for sequence fidelity.

`vocab_valid` asserts the learned artifacts are a real tokenizer:
  - exactly n_merges merges (or early-stop reported instead),
  - no duplicate merge pairs,
  - every post-merge symbol array still concatenates back to its word
    (+ end marker) — merges never lose or duplicate characters,
  - every merged symbol is the concatenation of a previously-available
    pair (valid merge-order dependency).

Usage:
    python tools/bpe_probe.py                       # 10k merges, greedy, B=256
    python tools/bpe_probe.py --merges 30000 --batch-size 512
    python tools/bpe_probe.py --exact --merges 1000 # the old unit probe
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 50_000
VOCAB_WORDS = 20_000
WORDS_PER_DOC = 40


def build_corpus(spark):
    """50 k synthetic docs, Zipf-distributed over a 20 k-word
    vocabulary — all JVM-side (hash-derived ranks, no Python loop), and
    deterministic (no RNG: word choice is a hash of (doc, position))."""
    from pyspark.sql import functions as F

    docs = spark.range(N_DOCS).select(F.col("id").alias("doc_id"))
    pos = F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1))
    # Zipf via inverse-CDF on a hash-uniform: rank ~ u^alpha stretched
    # over the vocab (alpha>1 concentrates mass on low ranks)
    u = (
        F.pmod(F.hash(F.col("doc_id"), F.col("p"), F.lit(7919)), F.lit(1_000_003))
        / 1_000_003.0
    )
    rank = F.least(
        F.lit(VOCAB_WORDS - 1),
        F.floor(F.pow(u, F.lit(3.0)) * VOCAB_WORDS).cast("int"),
    )
    # word text derives from the rank: base-26 letters, length grows
    # with rank (frequent words short, rare words long — natural shape)
    word = F.concat(
        F.lpad(F.conv(F.col("r").cast("string"), 10, 26), 3, "a"),
        F.substring(F.md5(F.col("r").cast("string")), 1, 2),
    )
    return (
        docs.select("doc_id", F.explode(pos).alias("p"))
        .withColumn("r", rank)
        .withColumn("w", word)
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
    )


def validate(merges, vocab_rows, n_requested: int) -> tuple[bool, list[str]]:
    from procoggraph_spark.operators.bpe import END

    problems: list[str] = []
    pairs = [(a, b) for a, b, _ in merges]
    if len(set(pairs)) != len(pairs):
        problems.append("duplicate merge pairs")
    # merge-order dependency: each merged symbol must be buildable from
    # symbols available at its point in the sequence
    available: set[str] = set(END)  # chars are always available
    seen: set[str] = set()
    for a, b in pairs:
        for s in (a, b):
            if len(s) > 1 and s != END and s not in seen:
                problems.append(f"merge input {s!r} never produced")
                break
        seen.add(a + b)
    # vocab integrity: symbol arrays still spell the word
    for row in vocab_rows:
        if "".join(row["syms"]) != row["word"] + END:
            problems.append(f"word {row['word']!r} corrupted by merges")
            break
    if len(merges) != n_requested:
        problems.append(f"early stop at {len(merges)}/{n_requested}")
    return (not problems, problems)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--merges", type=int, default=10_000)
    ap.add_argument("--batch-size", type=int, default=256)
    ap.add_argument("--exact", action="store_true")
    ap.add_argument("--top-mult", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from procoggraph_spark.operators.bpe import train_bpe
    from procoggraph_spark.session import default_driver_memory

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", default_driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    corpus = build_corpus(spark).localCheckpoint(eager=True)
    stats: dict = {}
    t0 = time.monotonic()
    merges, vocab = train_bpe(
        corpus,
        n_merges=args.merges,
        batch_size=args.batch_size,
        exact=args.exact,
        stats=stats,
        top_multiplier=args.top_mult,
    )
    wall = time.monotonic() - t0
    ok, problems = validate(
        merges, vocab.select("word", "syms").collect(), args.merges
    )
    ideal = -(-args.merges // args.batch_size)  # ceil
    print(
        json.dumps(
            {
                "merges": len(merges),
                "rounds": stats.get("rounds"),
                "wall_s": round(wall, 1),
                "batch_size": args.batch_size,
                "mode": "exact" if args.exact else "greedy",
                "top_mult": args.top_mult,
                "rounds_per_ideal": round(stats.get("rounds", 0) / ideal, 2),
                "vocab_valid": ok,
                "problems": problems,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
