"""Differential fuzz sweep: run every oracled registry query on a
degenerate-text corpus through BOTH engines and report divergences.

The driver's parquet is verified clean (no NULL/blank/tab/newline
texts), so the CORRECTNESS gate cannot see edge-value contract
ambiguities between an operator and its SQL twin — this tool can. It
clones the sf0.01 tables and rewrites ``documents.text`` for a slice
of doc_ids with the degenerate shapes a real crawl corpus contains:
empty strings, whitespace-only (space/tab/newline runs), embedded
newlines and tabs, unicode (accents, CJK, emoji), quotes/backslashes,
and 500-char single-token repeats. Star/event tables get their own
legs (NULL keys/measures/timestamps, non-finite + out-of-band
magnitudes, corrupted clocks, extreme dates, replayed/duplicate/
sentinel/2^61 keys, event-time collisions, boilerplate blankets, and
negative measures — refunds/chargebacks with exact cancellation pairs,
planted -0.0, and half-cent negatives). Everything else is copied
unchanged.

Usage:
    python tools/fuzz_sweep.py            # reuse corpus if present
    python tools/fuzz_sweep.py --regen    # rebuild the fuzz corpus
    python tools/fuzz_sweep.py -k text_   # filter query names

Exit status is the number of divergent queries (0 == converged), so CI
can gate on it. Round-7 baseline: 26 divergent -> 12 after the oracle
tokenization convergence -> 0 after the round-8 edge-value alignment.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FUZZ_DIR = "/tmp/procoggraph_fuzz_sf"
SRC_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# degenerate text shapes, keyed by doc_id % 25 (unassigned slots stay
# clean copies). None = SQL NULL text (a dead fetch / failed decode —
# real corpora have them even though the driver testdata does not).
DEGENERATE = {
    0: "",
    5: "emoji 🎉🚀 mixed with text",
    10: "line1\nline2\nline3",
    15: "héllo wörld ünïcode",
    20: "tab\tseparated\ttokens",
    1: " ",
    6: "\t",
    11: "\n\n",
    16: "   leading and trailing   ",
    21: "the\tand",  # stopwords separated by a tab (tokenizer probe)
    2: "日本語のテキスト 中文文本",
    7: 'quotes "double" and \'single\' and \\backslash',
    12: "x" * 500,  # one 500-char token
    17: "word " * 100,  # 100 repeats of one word
    22: "a",  # single char, shorter than any shingle
    3: None,  # NULL text
    # exotic unicode whitespace (real crawls are full of these): the
    # single-tokenize discipline must agree across engines on what IS
    # whitespace — Java regex \s and RE2 \s both exclude NBSP/U+2028/
    # zero-width space, so these glue tokens together identically
    4: "non breaking space glued",
    9: "line separator and paragraph",
    14: "zero​width​space one token",
    19: "full　width　ideographic",
    # locale-divergent case mappings (round-11 leg): the characters
    # whose upper/lower differ between Java's full Unicode mapping
    # (Spark) and utf8proc's 1:1 mapping (DuckDB) — Turkish İ/ı, sharp
    # s, ligatures, Greek final sigma, titlecase digraphs. Any
    # normalization key built on engine lower()/upper() diverges here.
    8: "İstanbul ıspanak SİVAS normalized",
    13: "straße ẞeta GROßE footnotes",
    18: "ΣΟΦΟΣ σοφόΣ τέλοΣ paragraph",
    23: "ﬁle ﬂow oﬃce ǅungla ǅENTRY",
    # exotic codepoints (round-11 leg, final slot): C0 control chars
    # (NUL/BEL/ESC — decoder garbage that C-string-based engines can
    # truncate at), astral-plane letters (4-byte UTF-8: mathematical
    # alphanumerics), and a ZWJ emoji family (one grapheme, many
    # codepoints — length()/substring must count the same units on
    # both engines).
    24: "nul\x00mid bell\x07ring esc\x1bseq 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 𝒸𝓊𝓇𝓈𝒾𝓋ℯ 👨\u200d👩\u200d👧\u200d👦 family",
}


def build_corpus(spark):
    from pyspark.sql import functions as F

    if os.path.exists(FUZZ_DIR):
        shutil.rmtree(FUZZ_DIR)
    os.makedirs(FUZZ_DIR)
    for t in TABLES:
        src = os.path.join(SRC_DIR, f"{t}.parquet")
        df = spark.read.parquet(src)
        if t == "nation":
            # unicode dimension names: the fuzzy-match operator runs
            # edit distance over these — DuckDB's levenshtein counts
            # BYTES vs Spark's codepoints, so non-ASCII names are the
            # probe that forced the oracle onto the codepoint DP
            df = df.withColumn(
                "n_name",
                F.when(F.col("n_nationkey") == 3, F.lit("BRÉSIL ÉTOILE"))
                .when(F.col("n_nationkey") == 7, F.lit("日本国 🗾"))
                .when(F.col("n_nationkey") == 11, F.lit("CÔTE D'IVOIRE"))
                .otherwise(F.col("n_name")),
            )
        if t == "documents":
            expr = None
            for slot, txt in DEGENERATE.items():
                cond = (F.col("doc_id") % 25 == slot) & (F.col("doc_id") < 400)
                val = F.lit(txt).cast("string")
                expr = (
                    F.when(cond, val) if expr is None else expr.when(cond, val)
                )
            df = df.withColumn("text", expr.otherwise(F.col("text")))
            # dirty provenance: documents with no source label (a feed
            # that lost attribution) — the sampling/mix/split/caps
            # family groups, weights, and caps BY source, so NULL must
            # mean one consistent thing on both engines
            df = df.withColumn(
                "source",
                F.when(
                    (F.col("doc_id") % 25 == 8) & (F.col("doc_id") < 400),
                    F.lit(None).cast("string"),
                )
                # empty-string label: DISTINCT from NULL (groups as its
                # own value, joins as a real key) — a feed that emits
                # '' where it means "unknown" must behave identically
                # on both engines, not collapse into the NULL contract
                .when(
                    (F.col("doc_id") % 25 == 13) & (F.col("doc_id") < 400),
                    F.lit(""),
                )
                .otherwise(F.col("source")),
            )
        if t == "documents":
            # flatline leg (round 12): a feed that emits the SAME
            # document 80 times — identical text, source, and length.
            # Degenerate distributions are where denominators die
            # (IQR=0 robust scale, zero-width quantile bins, stddev=0
            # z-scores — ANSI Spark RAISES on /0 where DuckDB NULLs)
            # and where ties storm every ranking (row_number over
            # exactly-equal lengths/sims must tie-break on id, not on
            # partition luck). Also an 80-member exact-dup cluster for
            # the dedup family's hot-bucket guards.
            flat = (F.col("doc_id") >= 400) & (F.col("doc_id") < 480)
            df = (
                df.withColumn(
                    "text",
                    F.when(
                        flat,
                        F.lit(
                            "flatline corpus body with steady tokens "
                            "repeated across the whole feed block"
                        ),
                    ).otherwise(F.col("text")),
                )
                .withColumn(
                    "source",
                    F.when(flat, F.lit("flatline_feed")).otherwise(
                        F.col("source")
                    ),
                )
                .withColumn(
                    "n_chars",
                    F.when(
                        flat, F.lit(42).cast(df.schema["n_chars"].dataType)
                    ).otherwise(F.col("n_chars")),
                )
            )
        if t == "documents":
            # giant-document / token-bomb leg (round 12): real crawls
            # contain MB-scale pages, minified blobs with NO whitespace
            # (one giant token), and spam pages repeating one phrase
            # thousands of times. The text family (single-tokenize,
            # zip_with shingles, bigram LM, minhash, repetition/
            # boilerplate detectors) must stay BOUNDED (no quadratic
            # blowup — the O(tokens^2) capture class) and
            # engine-identical on all three shapes.
            df = df.withColumn(
                "text",
                F.when(
                    F.col("doc_id") == 480,
                    # ~60 KB of varied tokens (8k words, cycling vocab)
                    F.array_join(
                        F.transform(
                            F.sequence(F.lit(0), F.lit(7999)),
                            lambda i: F.concat(
                                F.lit("tok"),
                                F.pmod(i * 2654435761, F.lit(997)).cast("string"),
                            ),
                        ),
                        " ",
                    ),
                )
                .when(
                    F.col("doc_id") == 481,
                    # one 50 KB token: a minified blob, no whitespace
                    F.repeat(F.lit("deadbeef"), 6250),
                )
                .when(
                    F.col("doc_id") == 482,
                    # spam bomb: ONE phrase repeated 8000 times
                    F.repeat(F.lit("buy cheap now "), 8000),
                )
                .otherwise(F.col("text")),
            )
        if t == "events":
            # dirty telemetry: anonymous events (NULL user_id), events
            # with no value, and events with an unknown/missing type —
            # every real event stream contains all three
            df = (
                df.withColumn(
                    "user_id",
                    F.when(
                        (F.col("event_id") % 97 == 11) & (F.col("event_id") < 2000),
                        F.lit(None).cast(df.schema["user_id"].dataType),
                    ).otherwise(F.col("user_id")),
                )
                .withColumn(
                    "value",
                    F.when(
                        (F.col("event_id") % 97 == 23) & (F.col("event_id") < 2000),
                        F.lit(None).cast(df.schema["value"].dataType),
                    )
                    .when(
                        (F.col("event_id") % 97 == 29) & (F.col("event_id") < 2000),
                        F.lit(float("nan")),
                    )
                    .when(
                        (F.col("event_id") % 97 == 41) & (F.col("event_id") < 2000),
                        F.lit(1e300),
                    )
                    .otherwise(F.col("value")),
                )
                .withColumn(
                    "event_type",
                    F.when(
                        (F.col("event_id") % 97 == 37) & (F.col("event_id") < 2000),
                        F.lit(None).cast("string"),
                    )
                    # label hygiene violations: padded and case-variant
                    # type strings from sloppy emitters. Exact string
                    # matching means these fall OUT of 'click' funnels —
                    # identically on both engines, and as their own
                    # groups in type rollups (no silent trim/casefold)
                    .when(
                        (F.col("event_id") % 97 == 7) & (F.col("event_id") < 2000),
                        F.lit(" click"),
                    )
                    .when(
                        (F.col("event_id") % 97 == 17) & (F.col("event_id") < 2000),
                        F.lit("CLICK"),
                    )
                    .when(
                        (F.col("event_id") % 97 == 19) & (F.col("event_id") < 2000),
                        F.lit(""),
                    )
                    .otherwise(F.col("event_type")),
                )
                .withColumn(
                    "value",
                    # flatline leg (round 12): a metered feed stuck at
                    # one reading — constant values make window stddevs
                    # exactly 0 and percent/ratio denominators
                    # degenerate; ANSI Spark raises where DuckDB NULLs,
                    # so every z/share expression needs its guard
                    F.when(
                        (F.col("event_id") >= 2000) & (F.col("event_id") < 2500),
                        F.lit(7.25),
                    ).otherwise(F.col("value")),
                )
                .withColumn(
                    "ts",
                    # dirty event-time: a missing timestamp (decoder
                    # dropped it) and an epoch-zero timestamp (the
                    # canonical zeroed clock — BELOW the band floor
                    # since r10: streaming stateful operators treat
                    # pre-epoch event time as already-late against the
                    # initial watermark, so both engines degrade it to
                    # NULL at load rather than keep it on one face and
                    # lose it on the other)
                    F.when(
                        (F.col("event_id") % 97 == 67) & (F.col("event_id") < 2000),
                        F.lit(None).cast(df.schema["ts"].dataType),
                    )
                    .when(
                        (F.col("event_id") % 97 == 71) & (F.col("event_id") < 2000),
                        F.lit("1970-01-01 00:00:00").cast(df.schema["ts"].dataType),
                    )
                    # corrupted clocks, out-of-band: beyond the portable
                    # event-time window (Arrow/pandas datetime64[ns] is
                    # int64 ns — nothing past 2262-04-11 fits; F.window
                    # overflows at year 10000; negative-epoch era values
                    # crash local-time collect). Contract: degrade to
                    # NULL event time at load (valid_ts band), both
                    # engines.
                    .when(
                        (F.col("event_id") % 97 == 73) & (F.col("event_id") < 2000),
                        F.lit("2300-06-15 12:00:00").cast(df.schema["ts"].dataType),
                    )
                    .when(
                        (F.col("event_id") % 97 == 79) & (F.col("event_id") < 2000),
                        F.lit("9999-12-31 23:59:59").cast(df.schema["ts"].dataType),
                    )
                    .when(
                        (F.col("event_id") % 97 == 83) & (F.col("event_id") < 2000),
                        F.lit("1600-01-01 00:00:00").cast(df.schema["ts"].dataType),
                    )
                    # in-band edge near the ceiling — must SURVIVE the
                    # gate (the band must not over-drop), and its
                    # window/month buckets stay ns-representable
                    .when(
                        (F.col("event_id") % 97 == 89) & (F.col("event_id") < 2000),
                        F.lit("2261-12-31 23:00:00").cast(df.schema["ts"].dataType),
                    )
                    # exact band-edge pairs: one second OUTSIDE each
                    # edge degrades, the edge itself survives — and the
                    # surviving edges' calendar truncations (year/week/
                    # month buckets in the cohort family) must not
                    # escape datetime64[ns] (the r10 finding that moved
                    # the band to calendar-grain-closed margins)
                    .when(
                        (F.col("event_id") % 97 == 91) & (F.col("event_id") < 2000),
                        # one second below the floor == epoch zero (the
                        # canonical zeroed clock): degrades — streaming
                        # stateful operators cannot admit it anyway
                        # (initial watermark is epoch zero)
                        F.lit("1970-01-01 00:00:00").cast(df.schema["ts"].dataType),
                    )
                    .when(
                        (F.col("event_id") % 97 == 93) & (F.col("event_id") < 2000),
                        F.lit("1970-01-01 00:00:01").cast(df.schema["ts"].dataType),
                    )
                    .when(
                        (F.col("event_id") % 97 == 95) & (F.col("event_id") < 2000),
                        F.lit("2262-01-01 00:00:00").cast(df.schema["ts"].dataType),
                    )
                    .when(
                        (F.col("event_id") % 97 == 96) & (F.col("event_id") < 2000),
                        F.lit("2262-01-01 00:00:01").cast(df.schema["ts"].dataType),
                    )
                    .otherwise(F.col("ts")),
                )
                .withColumn(
                    "value",
                    # negative-measures leg: refunds/chargebacks — real
                    # ledgers carry sign-flipped rows. Sign-flip one
                    # slice and plant literal -0.0 on another: a float
                    # fold that emits -0.0 renders "-0.000000" in the
                    # driver's hash normalization while the other
                    # engine's +0.0 renders "0.000000" — the contract
                    # (normalize at output boundaries) is what this
                    # probes. Applied AFTER the NaN/1e300 whens above
                    # (first match wins; slots are disjoint anyway).
                    F.when(
                        (F.col("event_id") % 97 == 43) & (F.col("event_id") < 2000),
                        -F.col("value"),
                    )
                    .when(
                        (F.col("event_id") % 97 == 3) & (F.col("event_id") < 2000),
                        F.lit(-0.0),
                    )
                    .otherwise(F.col("value")),
                )
                .withColumn(
                    "props",
                    # malformed/missing payloads: NULL, empty object,
                    # non-JSON garbage, wrong-typed field
                    F.when(
                        (F.col("event_id") % 97 == 41) & (F.col("event_id") < 2000),
                        F.lit(None).cast("string"),
                    )
                    .when(
                        (F.col("event_id") % 97 == 53) & (F.col("event_id") < 2000),
                        F.lit("{}"),
                    )
                    .when(
                        (F.col("event_id") % 97 == 59) & (F.col("event_id") < 2000),
                        F.lit("not json at all"),
                    )
                    .when(
                        (F.col("event_id") % 97 == 61) & (F.col("event_id") < 2000),
                        F.lit('{"k": "oops"}'),
                    )
                    .otherwise(F.col("props")),
                )
            )
        if t == "lineitem":
            # dirty fact rows (bounded slice): NULL ship dates (a feed
            # that lost the date), NULL discounts/quantities (partial
            # records). TPC-H declares these NOT NULL; a robust engine
            # must still agree with its oracle when reality disagrees
            # with the spec.
            df = (
                df.withColumn(
                    "l_shipdate",
                    F.when(
                        (F.col("l_orderkey") % 89 == 7) & (F.col("l_orderkey") < 2000),
                        F.lit(None).cast(df.schema["l_shipdate"].dataType),
                    )
                    # extreme ship dates (DATE robustness leg — see the
                    # orders comment): year-9999 sentinel + a leap day
                    .when(
                        (F.col("l_orderkey") % 89 == 37) & (F.col("l_orderkey") < 2000),
                        F.lit("9999-12-31").cast(df.schema["l_shipdate"].dataType),
                    )
                    .when(
                        (F.col("l_orderkey") % 89 == 41) & (F.col("l_orderkey") < 2000),
                        F.lit("2024-02-29").cast(df.schema["l_shipdate"].dataType),
                    )
                    .otherwise(F.col("l_shipdate")),
                )
                .withColumn(
                    "l_discount",
                    F.when(
                        (F.col("l_orderkey") % 89 == 13) & (F.col("l_orderkey") < 2000),
                        F.lit(None).cast(df.schema["l_discount"].dataType),
                    )
                    # domain-violating rates: a discount above 1 flips
                    # the sign of discounted revenue, a negative one
                    # inflates it — spec says [0,1], reality disagrees;
                    # the arithmetic must stay engine-identical
                    .when(
                        (F.col("l_orderkey") % 89 == 3) & (F.col("l_orderkey") < 2000),
                        F.lit(1.5),
                    )
                    .when(
                        (F.col("l_orderkey") % 89 == 11) & (F.col("l_orderkey") < 2000),
                        F.lit(-0.25),
                    )
                    .otherwise(F.col("l_discount")),
                )
                .withColumn(
                    "l_quantity",
                    F.when(
                        (F.col("l_orderkey") % 89 == 17) & (F.col("l_orderkey") < 2000),
                        F.lit(None).cast(df.schema["l_quantity"].dataType),
                    )
                    # zero-quantity line (a voided item kept for audit)
                    .when(
                        (F.col("l_orderkey") % 89 == 19) & (F.col("l_orderkey") < 2000),
                        F.lit(0.0),
                    )
                    .otherwise(F.col("l_quantity")),
                )
                # non-finite measures: fp decode garbage / overflowed
                # upstream computations — an exact-cents fold must not
                # ANSI-crash its long cast on them (contract: degrade
                # to NULL like a missing value, both engines)
                .withColumn(
                    "l_extendedprice",
                    F.when(
                        (F.col("l_orderkey") % 89 == 29) & (F.col("l_orderkey") < 2000),
                        F.lit(float("nan")),
                    ).otherwise(F.col("l_extendedprice")),
                )
                .withColumn(
                    "l_quantity",
                    F.when(
                        (F.col("l_orderkey") % 89 == 31) & (F.col("l_orderkey") < 2000),
                        F.lit(float("inf")),
                    ).otherwise(F.col("l_quantity")),
                )
                # finite but unrepresentable: a 1e300 "price" has no
                # cents/DECIMAL(18,2) form — must degrade to NULL, not
                # CAST_OVERFLOW the rollup (representation-band contract)
                .withColumn(
                    "l_extendedprice",
                    F.when(
                        (F.col("l_orderkey") % 89 == 43) & (F.col("l_orderkey") < 2000),
                        F.lit(1e300),
                    )
                    # credit memos: sign-flipped prices (negative-measures
                    # leg). Exercises HALF_UP rounding away from zero on
                    # negative cents and discounted-revenue folds whose
                    # partial sums change sign.
                    .when(
                        (F.col("l_orderkey") % 89 == 53) & (F.col("l_orderkey") < 2000),
                        -F.col("l_extendedprice"),
                    )
                    .otherwise(F.col("l_extendedprice")),
                )
            )
        if t == "orders":
            df = df.withColumn(
                "o_orderdate",
                F.when(
                    (F.col("o_orderkey") % 89 == 19) & (F.col("o_orderkey") < 2000),
                    F.lit(None).cast(df.schema["o_orderdate"].dataType),
                )
                # extreme business dates: DATE surfaces are robust across
                # year 1–9999 on both engines (proleptic Gregorian, kept
                # DateType client-side) — these rows verify that, EXCEPT
                # where a date is truncated into a TIMESTAMP output
                # (cohort months), which inherits the valid_ts band
                .when(
                    (F.col("o_orderkey") % 89 == 59) & (F.col("o_orderkey") < 2000),
                    F.lit("9999-12-31").cast(df.schema["o_orderdate"].dataType),
                )
                .when(
                    (F.col("o_orderkey") % 89 == 61) & (F.col("o_orderkey") < 2000),
                    F.lit("0001-01-07").cast(df.schema["o_orderdate"].dataType),
                )
                .when(
                    # inside the 1582 Gregorian-reform gap: a real date
                    # in the proleptic calendar both engines use
                    (F.col("o_orderkey") % 89 == 67) & (F.col("o_orderkey") < 2000),
                    F.lit("1582-10-10").cast(df.schema["o_orderdate"].dataType),
                )
                .otherwise(F.col("o_orderdate")),
            ).withColumn(
                "o_orderstatus",
                F.when(
                    (F.col("o_orderkey") % 89 == 23) & (F.col("o_orderkey") < 2000),
                    F.lit(None).cast("string"),
                ).otherwise(F.col("o_orderstatus")),
            ).withColumn(
                "o_totalprice",
                F.when(
                    (F.col("o_orderkey") % 89 == 41) & (F.col("o_orderkey") < 2000),
                    F.lit(float("nan")),
                )
                .when(
                    (F.col("o_orderkey") % 89 == 47) & (F.col("o_orderkey") < 2000),
                    F.lit(-1e300),
                )
                # negative order totals (chargebacks), one sitting on a
                # half-cent: HALF_UP must round away from zero on both
                # engines (-1234.565 -> -1234.57 via the double path)
                .when(
                    (F.col("o_orderkey") % 89 == 53) & (F.col("o_orderkey") < 2000),
                    F.lit(-1234.565),
                )
                .when(
                    (F.col("o_orderkey") % 89 == 83) & (F.col("o_orderkey") < 2000),
                    -F.col("o_totalprice"),
                )
                .otherwise(F.col("o_totalprice")),
            )
        if t == "orders":
            # flatline leg (round 12): a block of orders all priced the
            # same — mass ties for best-per-group/ntile/quantile ranks
            # (tie-break must ride ids on both engines), single-bucket
            # histograms, and zero-variance aggregates
            df = df.withColumn(
                "o_totalprice",
                F.when(
                    (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 2600),
                    F.lit(1000.0),
                ).otherwise(F.col("o_totalprice")),
            )
        if t == "lineitem":
            # flatline quantities: stddev_samp = 0 within the block's
            # groups; single-row groups stay NULL — the 0-vs-NULL
            # stddev split must read identically on both engines
            df = df.withColumn(
                "l_quantity",
                F.when(
                    (F.col("l_orderkey") >= 2000) & (F.col("l_orderkey") < 2400),
                    F.lit(5.0),
                ).otherwise(F.col("l_quantity")),
            )
        if t == "customer":
            df = df.withColumn(
                "c_name",
                F.when(
                    (F.col("c_custkey") % 89 == 53) & (F.col("c_custkey") < 500),
                    F.lit("Müller-Lüdenscheidt, Straße 12"),
                )
                .when(
                    (F.col("c_custkey") % 89 == 59) & (F.col("c_custkey") < 500),
                    F.lit("顧客 第一 🏢"),
                )
                .otherwise(F.col("c_name")),
            ).withColumn(
                "c_mktsegment",
                F.when(
                    (F.col("c_custkey") % 89 == 29) & (F.col("c_custkey") < 500),
                    F.lit(None).cast("string"),
                ).otherwise(F.col("c_mktsegment")),
            ).withColumn(
                "c_acctbal",
                F.when(
                    (F.col("c_custkey") % 89 == 31) & (F.col("c_custkey") < 500),
                    F.lit(None).cast(df.schema["c_acctbal"].dataType),
                )
                .when(
                    (F.col("c_custkey") % 89 == 43) & (F.col("c_custkey") < 500),
                    F.lit(float("-inf")),
                )
                .otherwise(F.col("c_acctbal")),
            )
        if t == "part":
            # unicode names: a real catalog has accents/CJK/emoji in
            # display strings — the relational string functions
            # (substr/length/case/initcap/concat/regexp) must agree
            # with their SQL twins beyond ASCII
            df = df.withColumn(
                "p_name",
                F.when(
                    (F.col("p_partkey") % 89 == 37) & (F.col("p_partkey") < 500),
                    F.lit(None).cast("string"),
                )
                .when(
                    (F.col("p_partkey") % 89 == 53) & (F.col("p_partkey") < 500),
                    F.lit("épice forêt crème brûlée"),
                )
                .when(
                    (F.col("p_partkey") % 89 == 59) & (F.col("p_partkey") < 500),
                    F.lit("日本語パーツ 零件 🌟"),
                )
                .when(
                    (F.col("p_partkey") % 89 == 61) & (F.col("p_partkey") < 500),
                    F.lit("STRASSE große ärger"),
                )
                .otherwise(F.col("p_name")),
            ).withColumn(
                "p_brand",
                F.when(
                    (F.col("p_partkey") % 89 == 41) & (F.col("p_partkey") < 500),
                    F.lit(None).cast("string"),
                ).otherwise(F.col("p_brand")),
            )
        if t == "embeddings":
            # zero-norm and NULL vectors: the shapes the similarity
            # family's boundary filters exist for (a failed encoder
            # emits zeros or nothing; cosine is undefined at zero norm).
            # NaN/Inf components: a diverged encoder (fp16 overflow,
            # 0/0 in a normalization layer) — must be unsearchable on
            # BOTH engines, not rank-poison (Spark's total order puts
            # NaN sims FIRST in desc windows; numpy argsort puts them
            # LAST — one poisoned vector makes top-k engine-dependent).
            dim = df.selectExpr("size(embedding) AS d").first()["d"]
            zero = F.array(*[F.lit(0.0).cast("float") for _ in range(dim)])

            def poisoned(bad: float):
                return F.array(
                    *[
                        F.lit(bad if i == 3 else 0.25).cast("float")
                        for i in range(dim)
                    ]
                )

            df = df.withColumn(
                "embedding",
                F.when((F.col("vec_id") % 50 == 37) & (F.col("vec_id") < 400), zero)
                .when(
                    (F.col("vec_id") % 50 == 43) & (F.col("vec_id") < 400),
                    F.lit(None).cast(df.schema["embedding"].dataType),
                )
                .when(
                    (F.col("vec_id") % 50 == 11) & (F.col("vec_id") < 400),
                    poisoned(float("nan")),
                )
                .when(
                    (F.col("vec_id") % 50 == 17) & (F.col("vec_id") < 400),
                    poisoned(float("inf")),
                )
                .when(
                    (F.col("vec_id") % 50 == 23) & (F.col("vec_id") < 400),
                    # fp32-max garbage: finite, squarable (1.2e77), but
                    # beyond any integer-quantization domain
                    poisoned(3.4e38),
                )
                # ragged-vectors leg: wrong-LENGTH embeddings (a
                # truncated write, a mixed-model-version feed, an
                # encoder that emitted nothing). The numpy kernels
                # gained rows_of_dim guards in r09 via a probe; riding
                # the standing corpus makes every oracle face them on
                # every sweep — the length contract must hold on BOTH
                # engines, not just survive np.stack.
                .when(
                    (F.col("vec_id") % 50 == 5) & (F.col("vec_id") < 400),
                    F.slice(F.col("embedding"), 1, dim // 2),  # truncated
                )
                .when(
                    (F.col("vec_id") % 50 == 29) & (F.col("vec_id") < 400),
                    F.concat(  # over-long (model-version drift)
                        F.col("embedding"), F.slice(F.col("embedding"), 1, 2)
                    ),
                )
                .when(
                    (F.col("vec_id") % 50 == 47) & (F.col("vec_id") < 400),
                    F.slice(F.col("embedding"), 1, 0),  # zero-length []
                )
                # NULL-component leg (round 11): a RIGHT-LENGTH vector
                # carrying NULL elements (a join-assembled vector with a
                # missing feature, a JSON null mid-array) — passes the
                # length gate, then numpy silently reads None as NaN
                # while DuckDB's list_inner_product RAISES on NULL
                # components: silent rank-poison on one engine, a crash
                # on the other, unless the load contract degrades it.
                .when(
                    (F.col("vec_id") % 50 == 31) & (F.col("vec_id") < 400),
                    F.transform(
                        "embedding",
                        lambda x, i: F.when(i != 5, x),  # one NULL hole
                    ),
                )
                .when(
                    (F.col("vec_id") % 50 == 41) & (F.col("vec_id") < 400),
                    F.transform(  # all-NULL elements, right length
                        "embedding",
                        lambda x, i: F.lit(None).cast("float"),
                    ),
                )
                # flatline leg (round 12): 40 IDENTICAL vectors — every
                # pairwise sim in the block is EXACTLY equal, so top-k /
                # knn / medoid / diversity rankings face a tie storm
                # that only an id tie-break resolves identically across
                # engines; distances of exactly 0 probe the diversity /
                # dedup thresholds' closed/open boundary choices
                .when(
                    (F.col("vec_id") >= 400) & (F.col("vec_id") < 440),
                    F.array(*[F.lit(0.5).cast("float") for _ in range(dim)]),
                )
                .otherwise(F.col("embedding")),
            )
        # ---- dirty-keys leg: the corruption shapes a real ingest sees
        # constantly — exact duplicate rows (retry/redelivery), duplicate
        # primary keys with DIFFERENT payloads (a replayed feed after an
        # upstream edit), and negative sentinel keys (-1 "anonymous").
        # Engines must agree on all three: joins fan out identically,
        # aggregates count what is there, rankings stay total-ordered.
        if t == "nation":
            # one duplicated dimension key with a different display name:
            # every star join through nation fans out ×2 for that key
            dup_nation = df.filter(F.col("n_nationkey") == 13).withColumn(
                "n_name", F.lit("REPLAYED THIRTEEN")
            )
            df = df.unionByName(dup_nation)
        if t == "documents":
            dup_docs = df.filter(
                (F.col("doc_id") >= 450) & (F.col("doc_id") < 470)
            ).withColumn(
                "text",
                F.concat_ws(" ", F.col("text"), F.lit("duplicate feed copy")),
            )
            df = df.unionByName(dup_docs)
            # boilerplate blanket: one shared footer on ~20% of docs —
            # a crawl's licence/navigation chrome. Its shingles become
            # corpus-hot, stressing every document-frequency guard
            # (max_shingle_df drops, strip_boilerplate excises) at
            # realistic hotness instead of the clean corpus's near-zero
            df = df.withColumn(
                "text",
                F.when(
                    (F.col("doc_id") % 5 == 4)
                    & (F.col("doc_id") >= 500)
                    & F.col("text").isNotNull(),
                    F.concat_ws(
                        " ",
                        F.col("text"),
                        F.lit(
                            "copyright footer all rights reserved"
                            " by the example corpus consortium"
                        ),
                    ),
                ).otherwise(F.col("text")),
            )
        if t == "embeddings":
            # same vec_id, perturbed vector (replayed after re-encode) +
            # bit-exact duplicate rows (redelivery)
            dup_vec = df.filter(
                (F.col("vec_id") >= 450) & (F.col("vec_id") < 460)
            ).withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, i: F.when(i == 0, x + F.lit(0.01).cast("float")).otherwise(x),
                ),
            )
            exact_vec = df.filter((F.col("vec_id") >= 470) & (F.col("vec_id") < 480))
            # label-conflicting replay: same id, same vector, DIFFERENT
            # label — key_unique's payload order (vector, then label)
            # must resolve it deterministically on both engines
            conflict_vec = df.filter(
                (F.col("vec_id") >= 480) & (F.col("vec_id") < 485)
            ).withColumn("label", F.col("label") + 1)
            df = (
                df.unionByName(dup_vec)
                .unionByName(exact_vec)
                .unionByName(conflict_vec)
            )
        if t == "orders":
            dup_orders = df.filter(
                (F.col("o_orderkey") % 89 == 73) & (F.col("o_orderkey") < 2000)
            ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
            df = df.unionByName(dup_orders).withColumn(
                "o_custkey",
                F.when(
                    (F.col("o_orderkey") % 89 == 79) & (F.col("o_orderkey") < 2000),
                    F.lit(-1).cast(df.schema["o_custkey"].dataType),
                )
                # referential-dirt leg (round 11): NULL customer key —
                # the lost-FK twin of the -1 orphan above; NULL never
                # equi-joins, so cohort/LTV/segment queries must agree
                # on dropping (inner) or NULL-padding (left) the row
                .when(
                    (F.col("o_orderkey") % 89 == 83) & (F.col("o_orderkey") < 2000),
                    F.lit(None).cast(df.schema["o_custkey"].dataType),
                )
                .otherwise(F.col("o_custkey")),
            )
        if t == "lineitem":
            exact_li = df.filter(
                (F.col("l_orderkey") % 89 == 61) & (F.col("l_orderkey") < 2000)
            )
            df = df.unionByName(exact_li)
            # referential-dirt leg (round 11): fact rows whose foreign
            # keys resolve to NOTHING — orphan l_orderkey (a fact feed
            # that outran the dimension load) and NULL l_partkey (a
            # lost join key). Inner joins must drop them and left joins
            # must NULL-pad them IDENTICALLY on both engines; no query
            # may assume the TPC-H FK discipline the spec promises.
            orphan_li = df.filter(
                (F.col("l_orderkey") % 89 == 31) & (F.col("l_orderkey") < 2000)
            ).withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(500_000_000)
            )
            df = df.unionByName(orphan_li).withColumn(
                "l_partkey",
                F.when(
                    (F.col("l_orderkey") % 89 == 43) & (F.col("l_orderkey") < 2000),
                    F.lit(None).cast(df.schema["l_partkey"].dataType),
                ).otherwise(F.col("l_partkey")),
            )
        if t == "events":
            # event-time collisions: two DIFFERENT events for the same
            # user at the IDENTICAL timestamp (batched emitters and
            # second-granularity clocks produce these constantly) —
            # every orderBy(ts) window (transitions, funnels,
            # attribution, session lag) must be total under the tie or
            # its output is partition-dependent
            collide = (
                df.filter((F.col("event_id") % 97 == 5) & (F.col("event_id") < 2000))
                .withColumn("event_id", F.col("event_id") + F.lit(1_000_000))
                .withColumn(
                    "event_type",
                    F.when(F.col("event_type") == "view", F.lit("click"))
                    .otherwise(F.lit("view")),
                )
                .withColumn("value", F.col("value") * 3)
            )
            df = df.unionByName(collide)
            # exact-cancellation pairs: a correction row negating an
            # earlier event's value for the same user/type — per-group
            # sums over these collapse to exactly zero, where a float
            # fold's sign bit (+0.0 vs -0.0) becomes engine-visible in
            # the driver's "%.6f" hash normalization
            cancel = (
                df.filter((F.col("event_id") % 97 == 13) & (F.col("event_id") < 2000))
                .withColumn("event_id", F.col("event_id") + F.lit(3_000_000))
                .withColumn("value", -F.col("value"))
            )
            df = df.unionByName(cancel)
            exact_ev = df.filter(
                (F.col("event_id") % 97 == 47) & (F.col("event_id") < 2000)
            )
            df = df.unionByName(exact_ev).withColumn(
                "user_id",
                F.when(
                    (F.col("event_id") % 97 == 31) & (F.col("event_id") < 2000),
                    F.lit(-1).cast(df.schema["user_id"].dataType),
                ).otherwise(F.col("user_id")),
            )
        # ---- huge-keys leg: snowflake-scale 64-bit ids (2^61 range) —
        # at 100 TB, ids ARE this size. Every portable-hash formula
        # multiplies id-derived values; DuckDB RAISES on BIGINT
        # overflow while Spark wraps silently, so any formula that
        # fails to pre-reduce (% 2^31) before multiplying is a latent
        # crash/divergence this leg exposes. Copies of real rows with
        # shifted ids, so joins/metrics stay well-formed.
        _HUGE = 1 << 61
        if t == "documents":
            huge_docs = df.filter(
                (F.col("doc_id") >= 100) & (F.col("doc_id") < 103)
            ).withColumn("doc_id", F.col("doc_id") + F.lit(_HUGE))
            df = df.unionByName(huge_docs)
        if t == "embeddings":
            huge_vec = df.filter(
                (F.col("vec_id") >= 100) & (F.col("vec_id") < 103)
            ).withColumn("vec_id", F.col("vec_id") + F.lit(_HUGE))
            df = df.unionByName(huge_vec)
        if t == "events":
            huge_ev = (
                df.filter((F.col("event_id") >= 100) & (F.col("event_id") < 103))
                .withColumn("event_id", F.col("event_id") + F.lit(_HUGE))
                .withColumn("user_id", F.col("user_id") + F.lit(_HUGE))
            )
            df = df.unionByName(huge_ev)
        if t == "orders":
            huge_ord = (
                df.filter((F.col("o_orderkey") >= 100) & (F.col("o_orderkey") < 103))
                .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(_HUGE))
                .withColumn("o_custkey", F.col("o_custkey") + F.lit(_HUGE))
            )
            df = df.unionByName(huge_ord)
        if t == "lineitem":
            huge_li = df.filter(
                (F.col("l_orderkey") >= 100) & (F.col("l_orderkey") < 103)
            ).withColumn("l_orderkey", F.col("l_orderkey") + F.lit(_HUGE))
            df = df.unionByName(huge_li)
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(FUZZ_DIR, f"{t}.parquet")
        )


def normalize(rows, cols):
    """Same canonicalization as tests/test_oracle_parity.py."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if type(v).__name__ == "ndarray":
            v = list(v)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        if type(v).__module__ == "numpy" and hasattr(v, "item"):
            v = v.item()
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.6f}"
        if isinstance(v, bool):
            return str(int(v))
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.6f}"
        return str(v)

    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("-k", default="", help="substring filter on query names")
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

    if args.regen or not os.path.exists(FUZZ_DIR):
        print("building fuzz corpus ...", file=sys.stderr)
        build_corpus(spark)

    import duckdb

    from procoggraph_spark.queries import registry

    queries, oracles = registry()
    names = [n for n in sorted(oracles) if args.k in n]

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(FUZZ_DIR, f"{t}.parquet")
        glob = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")

    divergent = []
    for name in names:
        try:
            spdf = queries[name](spark, FUZZ_DIR).toPandas()
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
            scols = list(spdf.columns)
            pdf = con.sql(oracles[name]).df()
            drows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
            dcols = list(pdf.columns)
        except Exception as e:  # noqa: BLE001 - a crash IS a finding
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:200]}")
            divergent.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"MISMATCH {name} cols {scols} vs {dcols}")
            divergent.append(name)
            continue
        sn, dn = normalize(srows, scols), normalize(drows, dcols)
        if sn != dn:
            print(f"MISMATCH {name} {len(srows)} {len(drows)}")
            divergent.append(name)
    print(f"FUZZ divergent: {len(divergent)} of {len(names)}")
    for n in divergent:
        print("  ", n)
    return len(divergent)


if __name__ == "__main__":
    sys.exit(main())
