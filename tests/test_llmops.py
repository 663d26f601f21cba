"""Verification for the engine-hash-dependent (oracle-less) operators:
MinHash/LSH candidate quality, SimHash, ANN recall, rolling hash golden."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from procoggraph_spark.operators import dedup as D
from procoggraph_spark.operators import similarity as S
from procoggraph_spark.operators import text as X
from procoggraph_spark.session import formatted_plan


@pytest.fixture(scope="module")
def docs(spark):
    """Documents with planted near-duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),                                  # exact dup
        (2, base.replace("today", "tomorrow")),     # near dup
        (3, "completely different content about spark query engines and shuffles"),
        (4, "another unrelated document text with its own vocabulary entirely"),
        (5, base.replace("quick", "slow").replace("lazy", "sleepy")),  # near dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(docs):
    sigs = D.minhash_signatures(docs, n=2, num_hashes=64)
    cand = D.minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)
    est = D.minhash_estimate(cand, sigs)
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in est.collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup always collides
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5   # near dup found
    assert (3, 4) not in pairs                       # unrelated not candidates
    # LSH candidates must cover every high-jaccard pair (recall on dups)
    truth = D.ngram_jaccard_pairs(docs, n=2, threshold=0.6)
    for r in truth.collect():
        assert (r["id_a"], r["id_b"]) in pairs


def test_simhash_near_pairs(docs):
    fp = D.simhash(docs)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             D.simhash_near_pairs(fp, max_hamming=16).collect()}
    assert pairs.get((0, 1)) == 0            # identical text → distance 0
    assert (0, 2) in pairs                   # near dup within radius
    assert (3, 4) not in pairs


def test_simhash_single_tokenize_and_tokenless_domain(docs):
    # r13: tokenization must run ONCE per row — the old pre-group
    # filter(size(tokens) > 0) re-inlined the split into the pushed
    # filter condition, tokenizing every document twice
    fp = D.simhash(docs)
    p = formatted_plan(fp)
    assert p.count("split(trim") == 1
    # the post-agg token-count guard keeps the exploded formulation's
    # domain: whitespace-only and NULL docs produce no fingerprint,
    # multi-row ids with one token-bearing row keep theirs
    extra = docs.sparkSession.createDataFrame(
        [(90, "   \t\n  "), (91, None), (92, ""), (93, "tok"), (93, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in D.simhash(extra).collect()}
    assert out == {93}


def test_exact_dedup(docs):
    out = D.exact_dedup(docs, key_cols=["text"], id_col="doc_id")
    dups = {r["canonical_doc_id"]: r["n_copies"] for r in out.collect()}
    assert dups[0] == 2  # docs 0 and 1 collapse, min id kept


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, queries, k=10)
    approx = S.lsh_topk(emb, queries, dim=64, n_planes=4, n_tables=8, k=10)
    etop = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    atop = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(etop & atop) / len(etop)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_rolling_hash_golden(spark):
    """Spark rolling hash == pure-Python Rabin-Karp on the same text."""
    rows = [(0, "hello world"), (1, "a"), (2, "x" * 100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", X.rolling_hash_fingerprint(F.col("text")).alias("h")
        ).collect()
    }

    def rk(text, max_chars=64, base=31, mod=2147483647):
        h = 0
        for ch in text[:max_chars]:
            h = (h * base + ord(ch)) % mod
        return h

    for i, text in rows:
        assert got[i] == rk(text), f"doc {i}"


def test_positional_fingerprint_matches_python(spark):
    rows = [(0, "abc"), (1, "spark engine text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id", X.positional_fingerprint(F.col("text")).alias("h")
        ).collect()
    }
    for i, text in rows:
        expect = sum(ord(c) * (j + 1) for j, c in enumerate(text[:64])) % 2147483647
        assert got[i] == expect


def test_langid_marker_logic(spark):
    df = spark.createDataFrame(
        [
            (0, "der hund und die katze ist nicht da"),
            (1, "the cat and the dog is here"),
            (2, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["lang"]
        for r in df.select("doc_id", X.predict_lang(F.col("text")).alias("lang")).collect()
    }
    assert got[0] == "de"
    assert got[1] == "en"
    assert got[2] == "und"


def test_multimodal_plumbing(spark):
    """Multimodal binary columns: schema + batching real, decode stubbed."""
    from procoggraph_spark.operators.multimodal import (
        attach_fake_features,
        decode_stub_schema,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG fake"), "image/png"),
         (2, bytearray(b"RIFF fake"), "audio/wav")],
        "asset_id long, payload binary, mime string",
    )
    out = attach_fake_features(df)
    rows = {r["asset_id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == 9
    assert len(rows[1]["features"]) == 8
    assert out.schema["features"].dataType.simpleString() == "array<double>"
    assert decode_stub_schema().fieldNames() == ["asset_id", "width", "height", "pixels"]


def test_dedup_clusters_transitive(spark):
    """A~B and B~C (A~C never emitted) must land in one cluster with
    canonical = min id; singletons are their own canonical."""
    import pandas as pd

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: (r["canonical_id"], r["cluster_size"])
           for r in D.dedup_clusters(pairs, docs).collect()}
    assert out[0] == (0, 3) and out[1] == (0, 3) and out[2] == (0, 3)
    assert out[3] == (3, 1)
    assert out[4] == (4, 2) and out[5] == (4, 2)


def test_dedup_cluster_canonical_on_documents(spark):
    """Identical texts (exact dups) must share a canonical; survivors
    = number of distinct clusters."""
    from procoggraph_spark.queries.star_llmops import dedup_cluster_canonical
    from tests.conftest import SF_ORACLE

    out = dedup_cluster_canonical(spark, SF_ORACLE)
    rows = out.collect()
    assert {r["doc_id"] for r in rows} == set(range(150))
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["canonical_id"], []).append(r["doc_id"])
    for canon, members in by_canon.items():
        assert canon == min(members)  # keep-first rule
    # exact duplicates (same full text) always cluster together
    import pandas as pd

    d = pd.read_parquet(f"{SF_ORACLE}/documents.parquet")
    d = d[d.doc_id < 150]
    canon_of = {r["doc_id"]: r["canonical_id"] for r in rows}
    for _, grp in d.groupby("text"):
        ids = list(grp.doc_id)
        if len(ids) > 1:
            assert len({canon_of[i] for i in ids}) == 1, ids


def test_deterministic_split_stability_and_fractions(spark):
    """Split is a pure function of the id (same rows on rerun and on a
    reshuffled frame) and fractions land near 80/10/10."""
    from procoggraph_spark.operators.sampling import deterministic_split

    df = spark.range(10_000).withColumnRenamed("id", "doc_id")
    s1 = deterministic_split(df, id_col="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1})
    s2 = deterministic_split(
        df.repartition(7), id_col="doc_id", fractions={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    a = {r["doc_id"]: r["split"] for r in s1.collect()}
    b = {r["doc_id"]: r["split"] for r in s2.collect()}
    assert a == b
    from collections import Counter

    c = Counter(a.values())
    assert abs(c["train"] / 10_000 - 0.8) < 0.02
    assert abs(c["val"] / 10_000 - 0.1) < 0.02
    assert abs(c["test"] / 10_000 - 0.1) < 0.02


def test_stratified_sample_per_stratum(spark):
    from pyspark.sql import functions as F

    from procoggraph_spark.operators.sampling import stratified_sample

    df = spark.range(20_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("src"),
    )
    kept = stratified_sample(df, id_col="doc_id", strata_col="src", fraction=0.25)
    per = {r["src"]: r["n"] for r in kept.groupBy("src").agg(F.count("*").alias("n")).collect()}
    for src, n in per.items():
        assert abs(n / 5_000 - 0.25) < 0.05, (src, n)


def test_pack_sequences_budget_semantics(spark):
    """Every doc starts in the bin where its cumsum begins: bins are
    contiguous in id order and a bin's pre-doc total is < budget."""
    from pyspark.sql import functions as F

    from procoggraph_spark.operators.sampling import pack_sequences

    rows = [(i, "a", 100 + (i % 3) * 70) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n long")
    packed = pack_sequences(
        df, id_col="doc_id", token_col="n", budget=512, partition_cols=["src"]
    ).collect()
    by_id = sorted(packed, key=lambda r: r["doc_id"])
    cum = 0
    for r in by_id:
        assert r["bin_id"] == cum // 512
        cum += r["n"]


def test_weighted_mix_proportions(spark):
    """Mixture hits the target proportions within sampling noise, and
    the limiting source (highest n/w demand) is kept ~fully."""
    from pyspark.sql import functions as F

    from procoggraph_spark.operators.sampling import weighted_mix

    df = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    kept = weighted_mix(
        df, source_col="source", id_col="doc_id",
        weights={"s0": 0.6, "s1": 0.3, "s2": 0.1},
    )
    per = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    total = sum(per.values())
    # 10k per source; s0 is limiting (10k/0.6) -> mix ~16.6k total
    assert per["s0"] > 9_700  # limiting source kept ~fully
    assert abs(per["s0"] / total - 0.6) < 0.03
    assert abs(per["s1"] / total - 0.3) < 0.03
    assert abs(per["s2"] / total - 0.1) < 0.03
    # deterministic: rerun keeps the identical set
    again = weighted_mix(
        df.repartition(5), source_col="source", id_col="doc_id",
        weights={"s0": 0.6, "s1": 0.3, "s2": 0.1},
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_lsh_hot_bucket_suppression(spark):
    """A template corpus (all docs identical) explodes LSH candidate
    pairs O(n^2); max_bucket_size suppresses the degenerate buckets.
    Selective near-dups in small buckets survive the guard."""
    from pyspark.sql import functions as F

    from procoggraph_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    template = [(i, "the same boilerplate sentence repeated everywhere forever") for i in range(60)]
    real_pair = [
        (1000, "completely distinct payload alpha beta gamma delta epsilon"),
        (1001, "completely distinct payload alpha beta gamma delta zeta"),
    ]
    df = spark.createDataFrame(template + real_pair, "doc_id long, text string")
    sigs = minhash_signatures(df, id_col="doc_id", text_col="text", n=2, num_hashes=64)

    uncapped = minhash_lsh_pairs(sigs, id_col="doc_id").count()
    assert uncapped >= 60 * 59 / 2  # template blowup present

    capped = minhash_lsh_pairs(sigs, id_col="doc_id", max_bucket_size=10)
    rows = capped.collect()
    ids = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1000, 1001) in ids            # genuine near-dup survives
    assert all(a >= 1000 for a, _ in ids)  # template pairs suppressed


def test_ivf_trained_centroids_recall(spark):
    """Trained (Lloyd) centroids must give recall at least as good as
    the lowest-id seeds on clustered data, and both paths return valid
    top-k (exact rerank within probed cells)."""
    from pyspark.sql import functions as F

    from procoggraph_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids,
    )

    # 4 well-separated clusters of 64-d vectors
    base = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda d: (F.pmod(F.col("id"), F.lit(4)) * 10.0)
            + (F.pmod(F.xxhash64(F.col("id"), d), F.lit(100)) / 100.0),
        ).alias("embedding"),
    )
    queries = base.filter(F.col("vec_id") < 3)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(base, queries, id_col="vec_id", vec_col="embedding", k=10).collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    naive = ivf_topk(base, queries, id_col="vec_id", vec_col="embedding",
                     n_cells=8, n_probe=2, k=10)
    crows = train_centroids(base, id_col="vec_id", vec_col="embedding",
                            n_cells=8, iterations=3)
    trained = ivf_topk(base, queries, id_col="vec_id", vec_col="embedding",
                       n_cells=8, n_probe=2, k=10, centroids=crows)
    r_naive, r_trained = recall(naive), recall(trained)
    assert r_trained >= r_naive - 1e-9
    assert r_trained >= 0.5


def test_cms_sketch_invariants(spark):
    from collections import Counter

    from procoggraph_spark.operators import sketches as K

    words = (["the"] * 50 + ["spark"] * 20 + ["sketch"] * 5
             + [f"rare{i}" for i in range(30)])
    exact = Counter(words)
    df = spark.createDataFrame([(w,) for w in words], "term string")

    sketch = K.cms_build(df, "term", depth=4, width=32)
    cells = sketch.collect()
    # every sketch row partitions the full multiset: per-row counts sum to N
    row_sums = Counter()
    for c in cells:
        row_sums[c["row_id"]] += c["cnt"]
    assert set(row_sums) == {0, 1, 2, 3}
    assert all(v == len(words) for v in row_sums.values())

    est = {
        r["term"]: r["est_count"]
        for r in K.cms_estimate(sketch, df, "term", depth=4, width=32).collect()
    }
    assert set(est) == set(exact)
    # CMS never undercounts, and the planted heavy hitter wins the argmax
    for term, n in exact.items():
        assert est[term] >= n
    assert max(est, key=lambda t: (est[t], t)) == "the"

    # mergeability: sketches of two halves summed cell-wise == whole sketch
    half_a = spark.createDataFrame([(w,) for w in words[:50]], "term string")
    half_b = spark.createDataFrame([(w,) for w in words[50:]], "term string")
    merged = (
        K.cms_build(half_a, "term", depth=4, width=32)
        .unionByName(K.cms_build(half_b, "term", depth=4, width=32))
        .groupBy("row_id", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = {(c["row_id"], c["bucket"]): c["cnt"] for c in cells}
    got = {(c["row_id"], c["bucket"]): c["cnt"] for c in merged.collect()}
    assert got == whole


def test_benchmark_contamination_planted_leak(spark):
    bench = spark.createDataFrame(
        [(0, "the secret eval question about spark shuffles and codegen")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # verbatim leak of the eval text inside a longer doc
            (10, "intro words then the secret eval question about spark "
                 "shuffles and codegen plus trailing text"),
            # clean doc, no 3-gram overlap
            (11, "completely unrelated content with its own distinct vocabulary"),
            # too short for a 3-gram: must drop out, not divide by zero
            (12, "two words"),
        ],
        "doc_id long, text string",
    )
    from procoggraph_spark.operators.dedup import benchmark_contamination

    out = {r["doc_id"]: r for r in benchmark_contamination(
        corpus, bench, id_col="doc_id", text_col="text", n=3).collect()}
    assert set(out) == {10, 11}
    assert out[11]["n_contaminated"] == 0
    # the leaked doc contains every benchmark shingle (9 words -> 7 trigrams)
    assert out[10]["n_contaminated"] == 7
    assert 0 < out[10]["contamination_ratio"] < 1


def test_exact_k_per_group_count_and_stability(spark):
    from procoggraph_spark.operators.sampling import exact_k_per_group

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(100)], "doc_id long, source string"
    )
    a = exact_k_per_group(df, id_col="doc_id", group_col="source", k=7)
    counts = {r["source"]: r["n"] for r in
              a.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"g0": 7, "g1": 7, "g2": 7}
    # pure function of (group, id): a repartitioned rerun picks identical rows
    b = exact_k_per_group(
        df.repartition(13), id_col="doc_id", group_col="source", k=7
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # k larger than the group returns the whole group, not an error
    tiny = spark.createDataFrame([(1, "g")], "doc_id long, source string")
    assert exact_k_per_group(tiny, id_col="doc_id", group_col="source", k=5).count() == 1


def test_ngram_jaccard_hot_shingle_guard(spark):
    """max_shingle_df is the Jaccard twin of max_bucket_size: a
    boilerplate shingle shared by every doc must not create O(df^2)
    join pairs, while a genuine near-dup pair (overlapping in rare
    shingles) keeps a high score."""
    from procoggraph_spark.operators.dedup import ngram_jaccard_pairs

    # every doc shares the "common footer" boilerplate bigrams; only
    # 1000/1001 share informative content
    boiler = "common footer text appended to every document"
    corpus = [(i, f"unique{i} payload{i} " + boiler) for i in range(40)] + [
        (1000, "alpha beta gamma delta epsilon " + boiler),
        (1001, "alpha beta gamma delta zeta " + boiler),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(df, n=2, threshold=0.2)
    assert uncapped.count() >= 40 * 39 / 2  # boilerplate blowup present

    capped = ngram_jaccard_pairs(df, n=2, threshold=0.2, max_shingle_df=10)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert (1000, 1001) in rows           # genuine near-dup survives
    assert all(a >= 1000 for a, _ in rows)  # boilerplate-only pairs gone
    # retained universe: 5 bigrams each (content + the one bridge into
    # the boilerplate), 3 shared → 3/(5+5-3)
    assert rows[(1000, 1001)] == round(3 / 7, 6)

    # the guard must stay an equi-join: no cartesian product in the plan
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_gemm_topk_matches_fold_with_ties(spark):
    """gemm_topk must equal brute_force_topk exactly, including the
    (sim desc, id asc) tie-break at the k boundary — duplicate vectors
    force ties, and a 4-partition layout forces cross-partition merge."""
    from procoggraph_spark.operators.similarity import brute_force_topk, gemm_topk

    rows = []
    for i in range(40):
        base = [float((i % 5) + d) for d in range(8)]  # 5 duplicate groups
        rows.append((i, base))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(4)
    queries = corpus.filter("vec_id < 3")
    a = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in brute_force_topk(corpus, queries, id_col="vec_id", vec_col="embedding", k=7).collect()
    }
    b = {
        (r["query_id"], r["neighbor_id"], r["cosine_sim"], r["rank"])
        for r in gemm_topk(corpus, queries, id_col="vec_id", vec_col="embedding", k=7).collect()
    }
    assert a == b


def test_topk_zero_norm_vectors_dropped(spark):
    """Zero-norm (all-zero, non-NULL) vectors are dropped at the same
    boundary as NULL vectors in BOTH searchers: cosine is undefined at
    zero norm, and an unguarded division yields NaN, which sorts ABOVE
    real similarities in the desc rank window — a zero vector in the
    corpus would become every query's top neighbor."""
    from procoggraph_spark.operators.similarity import brute_force_topk, gemm_topk

    rows = [(i, [float((i % 3) + d) for d in range(4)]) for i in range(10)]
    rows.append((99, [0.0, 0.0, 0.0, 0.0]))  # zero-norm corpus row
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id < 2 OR vec_id = 99")
    for fn in (brute_force_topk, gemm_topk):
        out = fn(corpus, queries, id_col="vec_id", vec_col="embedding", k=5).collect()
        assert out, fn.__name__
        assert all(r["neighbor_id"] != 99 for r in out), fn.__name__
        assert all(r["query_id"] != 99 for r in out), fn.__name__
        assert all(
            r["cosine_sim"] == r["cosine_sim"] for r in out
        ), fn.__name__  # no NaN


def test_gemm_ivf_empty_path_schema_matches_normal_path(spark):
    """The degenerate (no queries / empty corpus) early returns must
    carry the SAME schema as the normal path, including non-long id
    types — otherwise a union of a per-shard search where one shard is
    empty fails on schema mismatch only in the empty case."""
    from procoggraph_spark.operators.similarity import gemm_topk, ivf_topk

    corpus = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("b", [2.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    no_queries = corpus.filter("vec_id = 'zz'")
    empty_gemm = gemm_topk(corpus, no_queries, id_col="vec_id", vec_col="embedding", k=3)
    normal_gemm = gemm_topk(corpus, corpus, id_col="vec_id", vec_col="embedding", k=3)
    # names + types must agree (nullability may differ: row_number is
    # non-nullable on the normal path; unions reconcile nullability)
    assert [(f.name, f.dataType) for f in empty_gemm.schema.fields] == [
        (f.name, f.dataType) for f in normal_gemm.schema.fields
    ]
    assert empty_gemm.count() == 0

    empty_corpus = corpus.filter("vec_id = 'zz'")
    out = ivf_topk(empty_corpus, corpus, id_col="vec_id", vec_col="embedding", k=3)
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cosine_sim", "rank",
    ]
    assert out.schema["query_id"].dataType.typeName() == "string"
    assert out.schema["neighbor_id"].dataType.typeName() == "string"
    assert out.count() == 0


def test_similarity_family_boundary_on_degenerate_vectors(spark):
    """Extended-fuzz contract (round 8): every searcher in the family
    shares ONE boundary — NULL and zero-norm vectors are unsearchable
    and unindexable. Under ANSI mode an unguarded zero norm CRASHES
    (DIVIDE_BY_ZERO) rather than mis-ranking, so this is a liveness
    pin, not just a correctness pin."""
    from procoggraph_spark.operators.similarity import (
        hard_negative_topk,
        int8_quantize_stats,
        ivf_topk,
        lsh_topk,
        mmr_diversify,
        rocchio_expand_topk,
        searchable,
    )

    rows = [(i, [float((i % 7) + d) for d in range(8)], f"l{i%3}") for i in range(30)]
    rows.append((97, [0.0] * 8, "l0"))           # zero-norm
    rows.append((98, None, "l1"))                # NULL
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    qs = corpus.filter("vec_id < 3 OR vec_id >= 97")
    assert {r["vec_id"] for r in searchable(corpus).select("vec_id").collect()} \
        == set(range(30))
    for fn, kw in [
        (lsh_topk, dict(dim=8, n_planes=4, n_tables=2, k=5)),
        (ivf_topk, dict(n_cells=4, n_probe=2, k=5)),
        (rocchio_expand_topk, dict(k=5, feedback=3)),
        (mmr_diversify, dict(k=3, pool=8)),
        (hard_negative_topk, dict(label_col="label", k=3)),
    ]:
        out = fn(corpus, qs, id_col="vec_id", vec_col="embedding", **kw).collect()
        assert out, fn.__name__
        bad = {97, 98}
        assert all(
            r["query_id"] not in bad and r["neighbor_id"] not in bad for r in out
        ), fn.__name__
    # the audit op keeps every row but NULLs the undefined cosine
    audit = {r["vec_id"]: r for r in int8_quantize_stats(corpus).collect()}
    assert len(audit) == 32
    assert audit[97]["recon_cos"] is None and audit[97]["q_norm2"] == 0
    assert audit[98]["recon_cos"] is None and audit[98]["q_norm2"] is None


def test_similarity_family_boundary_on_ragged_vectors(spark):
    """Dimension guard (round 9): a wrong-LENGTH vector (truncated /
    ragged encoder output) must degrade like a NULL vector — dropped at
    the kernel boundary — never crash np.stack with an
    inhomogeneous-shape error. The JVM paths (zip_with) already
    NULL-pad; this pins the numpy kernels to the same liveness."""
    from procoggraph_spark.operators.pq import ivf_pq_index_numpy, train_pq
    from procoggraph_spark.operators.similarity import (
        gemm_topk,
        ivf_topk,
        lsh_topk,
        train_centroids,
    )

    rows = [(i, [float((i % 7) + d) for d in range(8)]) for i in range(30)]
    rows.append((95, [1.0, 2.0]))        # too short
    rows.append((96, [0.5] * 12))        # too long
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = corpus.filter("vec_id < 3 OR vec_id >= 95")
    bad = {95, 96}
    for fn, kw in [
        (gemm_topk, dict(k=5)),
        (lsh_topk, dict(dim=8, n_planes=4, n_tables=2, k=5)),
        (ivf_topk, dict(n_cells=4, n_probe=2, k=5)),
    ]:
        out = fn(corpus, qs, id_col="vec_id", vec_col="embedding", **kw).collect()
        assert out, fn.__name__
        assert all(
            r["query_id"] not in bad and r["neighbor_id"] not in bad for r in out
        ), fn.__name__
    # trainers: deviant-dim rows must not poison the model either
    cents = train_centroids(corpus, id_col="vec_id", n_cells=4, iterations=2)
    assert all(len(v) == 8 for _, v in cents)
    cbs = train_pq(corpus, id_col="vec_id", m=4, k=4, dim=8, iterations=2)
    index = ivf_pq_index_numpy(corpus, cents, cbs, id_col="vec_id").collect()
    assert {r["vec_id"] for r in index} == set(range(30))


def test_release_diff_null_text_classification(spark):
    """corpus-release-diff style presence semantics: a NULL-text doc in
    both versions is 'unchanged' (presence flags, not hash nullness),
    NULL -> real text is 'changed'."""
    from procoggraph_spark.queries import registry

    qs, _ = registry()
    # replicated in miniature through the same status expression shape
    v1 = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, t1 string"
    ).select("doc_id", F.md5("t1").alias("_h")).withColumn("_in_a", F.lit(True))
    v2 = spark.createDataFrame(
        [(1, None), (2, "y"), (4, "z")], "doc_id long, t2 string"
    ).select("doc_id", F.md5("t2").alias("_h")).withColumn("_in_b", F.lit(True))
    j = v1.alias("a").join(v2.alias("b"), "doc_id", "full")
    status = (
        F.when(F.col("b._in_b").isNull(), "removed")
        .when(F.col("a._in_a").isNull(), "added")
        .when(~F.col("a._h").eqNullSafe(F.col("b._h")), "changed")
        .otherwise("unchanged")
    )
    got = {r["doc_id"]: r["s"] for r in j.select("doc_id", status.alias("s")).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_embedding_cosine_simhash_gate_margin(spark):
    """dedup_embedding_cosine gates candidate pairs at Hamming<=8 over 64
    hyperplanes while its DuckDB oracle is exact all-pairs at the 0.9
    cosine cutoff, so driver-gate equality rests on every exact-qualifying
    pair flipping well under 8 planes. Recompute the flips for ALL pairs
    the exact oracle keeps (at the driver's sf0.01, same corpus incl.
    planted twins) and assert the measured maximum leaves a >=3-bit
    margin — a change to embedding generation or the perturbation factor
    fails here in CI rather than silently at the driver gate (r04
    ADVICE)."""
    import numpy as np

    from procoggraph_spark.operators.similarity import hyperplane_signature
    from procoggraph_spark.queries.star_relational2 import _emb_twins
    from tests.conftest import SF_ORACLE

    base = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    corpus = base.unionByName(_emb_twins(base))
    rows = corpus.select(
        "vec_id",
        "v",
        hyperplane_signature(F.col("v"), n_planes=64, dim=64).alias("sig"),
    ).collect()
    V = np.array([r["v"] for r in rows], dtype=np.float64)
    sig = np.array([r["sig"] for r in rows], dtype=np.int64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = Vn @ Vn.T
    iu = np.triu_indices(len(rows), k=1)
    qualifying = np.nonzero(cos[iu] >= 0.9)[0]
    # the 40 planted twins must be among the exact-qualifying pairs
    assert len(qualifying) >= 40
    flips = [
        int(bin((int(sig[iu[0][q]]) ^ int(sig[iu[1][q]])) & (2**64 - 1)).count("1"))
        for q in qualifying
    ]
    assert max(flips) <= 5, (
        f"max plane flips {max(flips)} eats the margin under the "
        f"max_hamming=8 gate — the SimHash blocking no longer safely "
        f"covers the exact 0.9-cosine oracle on this data"
    )


def test_repeated_passages_planted(spark):
    """Passage-level dedup finds exactly the planted shared span and
    nothing else; within-doc repetition does not inflate the count."""
    from procoggraph_spark.operators.dedup import repeated_passages

    boiler = "all rights reserved do not redistribute this file"  # 8 words
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma"),
            (2, f"{boiler} delta epsilon zeta eta theta iota kappa"),
            # doc 3 repeats the boilerplate twice: still ONE doc
            (3, f"{boiler} and again {boiler}"),
            (4, "nothing shared here at all nine distinct words today"),
        ],
        ["doc_id", "text"],
    )
    out = repeated_passages(
        docs, id_col="doc_id", text_col="text", window=8, min_docs=2
    ).collect()
    hits = {r["passage"]: (r["n_docs"], r["first_doc_id"]) for r in out}
    assert hits[boiler] == (3, 1)
    # no other 8-gram is shared by two docs
    assert all(p == boiler for p in hits)


def test_repeated_passages_short_docs_drop(spark):
    from procoggraph_spark.operators.dedup import repeated_passages

    docs = spark.createDataFrame(
        [(1, "too short"), (2, "too short")], ["doc_id", "text"]
    )
    out = repeated_passages(
        docs, id_col="doc_id", text_col="text", window=8, min_docs=2
    )
    assert out.count() == 0


def test_semantic_cluster_dedup_planted_twins(spark):
    """SemDeDup composition: every planted twin collapses onto its base
    (k-means cell + within-cell cosine + components), bases without a
    twin stay singleton, and no two distinct bases merge."""
    from pyspark.sql import functions as F

    from procoggraph_spark.operators.dedup import semantic_cluster_dedup
    from procoggraph_spark.queries.common import t
    from procoggraph_spark.queries.star_relational2 import _emb_twins
    from tests.conftest import SF_SMOKE

    e = (
        t(spark, SF_SMOKE, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    corpus = e.unionByName(_emb_twins(e).select("vec_id", "v"))
    out = semantic_cluster_dedup(
        corpus, id_col="vec_id", vec_col="v", n_cells=8, iterations=2, threshold=0.9
    )
    rows = {r["vec_id"]: (r["canonical_id"], r["cluster_size"]) for r in out.collect()}
    assert len(rows) == 240
    for i in range(40):
        assert rows[1000 + i] == (i, 2), f"twin {1000 + i} did not collapse"
        assert rows[i] == (i, 2)
    for i in range(40, 200):
        assert rows[i] == (i, 1), f"base {i} merged unexpectedly"
    # the skew fallback (cells above max_cell_rows -> spillable JVM
    # join instead of whole-cell pandas) must give identical results
    forced = semantic_cluster_dedup(
        corpus, id_col="vec_id", vec_col="v", n_cells=8, iterations=2,
        threshold=0.9, max_cell_rows=10,
    )
    frows = {r["vec_id"]: (r["canonical_id"], r["cluster_size"])
             for r in forced.collect()}
    assert frows == rows


def test_corpus_shuffle_permutation_properties(spark):
    """corpus_shuffle yields a true permutation: every row gets exactly
    one (shard, pos); positions are dense 0..n_s-1 per shard; the order
    is seed-dependent but rerun-stable; shard sizes are near-uniform."""
    from procoggraph_spark.operators.sampling import corpus_shuffle

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    out = corpus_shuffle(df, id_col="doc_id", n_shards=4, seed=7)
    rows = out.collect()
    assert len(rows) == 1000
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), f"shard {shard} not dense"
        # hash sharding keeps sizes near-uniform
        assert 150 <= len(poss) <= 350
    # rerun-stable ...
    again = {(r["doc_id"]): (r["shard"], r["shard_pos"]) for r in
             corpus_shuffle(df, id_col="doc_id", n_shards=4, seed=7).collect()}
    assert all(again[r["doc_id"]] == (r["shard"], r["shard_pos"]) for r in rows)
    # ... and seed-sensitive (a different epoch order)
    other = {r["doc_id"]: (r["shard"], r["shard_pos"]) for r in
             corpus_shuffle(df, id_col="doc_id", n_shards=4, seed=8).collect()}
    assert any(other[r["doc_id"]] != (r["shard"], r["shard_pos"]) for r in rows)
    # seed must RE-MIX shard co-residence, not just rotate labels (a
    # bare multiplicative hash fails this: its low bits pass the input
    # through, so co-residence was seed-invariant round-robin)
    co7 = {(a, b) for a in range(100) for b in range(a + 1, 100)
           if again[a][0] == again[b][0]}
    co8 = {(a, b) for a in range(100) for b in range(a + 1, 100)
           if other[a][0] == other[b][0]}
    overlap = len(co7 & co8) / max(len(co7), 1)
    assert 0.05 < overlap < 0.6, f"co-residence overlap {overlap} not chance-like"
    # id stride must not leak into shards: even-only ids hit all shards
    ev = corpus_shuffle(
        spark.range(0, 2000, 2).withColumnRenamed("id", "doc_id"),
        id_col="doc_id", n_shards=4, seed=7,
    )
    sizes = {r["shard"]: r["n"] for r in ev.groupBy("shard").count()
             .withColumnRenamed("count", "n").collect()}
    assert set(sizes) == {0, 1, 2, 3} and all(150 < v < 350 for v in sizes.values())


def test_strip_boilerplate_planted(spark):
    """The planted licence block is removed from every carrier; docs
    without a hot passage pass through byte-identical; within-doc
    repeats of the hot passage are all removed."""
    from procoggraph_spark.operators.dedup import strip_boilerplate

    boiler = "all rights reserved do not redistribute this file"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma"),
            (2, f"{boiler} delta epsilon"),
            (3, f"{boiler} and {boiler}"),
            (4, "totally clean document with eight distinct words here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate(
            docs, id_col="doc_id", text_col="text", window=8, min_docs=3
        ).collect()
    }
    assert boiler not in out[1] and "alpha beta" in out[1] and "gamma" in out[1]
    assert boiler not in out[2] and "delta epsilon" in out[2]
    assert boiler not in out[3] and "and" in out[3]
    assert out[4] == "totally clean document with eight distinct words here"


def test_passage_ops_null_and_empty_text(spark):
    """Null / empty / whitespace-only texts flow through the passage
    family without errors: they contribute no shingles and, for
    stripping, pass through unchanged."""
    from procoggraph_spark.operators.dedup import repeated_passages, strip_boilerplate

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "one two three")],
        "doc_id long, text string",
    )
    assert repeated_passages(
        docs, id_col="doc_id", text_col="text", window=2, min_docs=2
    ).count() == 0
    out = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate(
            docs, id_col="doc_id", text_col="text", window=2, min_docs=2
        ).collect()
    }
    assert out == {1: None, 2: "", 3: "   ", 4: "one two three"}


def test_tokens_degenerate_whitespace(spark):
    """Whitespace tokenization on degenerate strings (fuzz audit):
    whitespace-only text has 0 tokens (not empty-string tokens), a
    leading tab does not emit a phantom first token, and newlines are
    separators like spaces."""
    from procoggraph_spark.operators.text import token_count, tokens

    cases = [
        (0, "\t\n  \t", 0),
        (1, "", 0),
        (2, "line1\nline2\nline3", 3),
        (3, "\tword", 1),
        (4, "a  b", 2),
        (5, "normal text here", 3),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in cases], "i int, text string"
    )
    got = {
        r["i"]: (r["n"], r["ws"])
        for r in df.select(
            "i",
            token_count(F.col("text")).alias("n"),
            tokens(F.col("text")).alias("ws"),
        ).collect()
    }
    for i, _, want in cases:
        assert got[i][0] == want, (i, got[i])
        assert "" not in got[i][1]


def test_degenerate_doc_edge_contracts(spark):
    """Round-8 fuzz-audit edge-value contracts, pinned per operator so
    the choice each SQL twin was aligned to cannot silently drift:

    * word_ngrams tokenizes with the FILTERED form — a tab/newline-only
      document (F.trim strips only spaces!) yields NO bigrams, not a
      phantom ['',''] bigram;
    * simhash excludes zero-token documents from the fingerprint table
      (same boundary on both engines);
    * positional_fingerprint('') is 0, never NULL (fingerprints are
      keys); NULL text still propagates NULL.
    """
    from procoggraph_spark.operators.dedup import simhash, word_ngrams
    from procoggraph_spark.operators.text import positional_fingerprint

    docs = spark.createDataFrame(
        [(1, "\t"), (2, "\n\n"), (3, ""), (4, " "), (5, "a b c"), (6, None)],
        "doc_id long, text string",
    )
    grams = {
        r["doc_id"]: r["g"]
        for r in docs.select(
            "doc_id", word_ngrams(F.col("text"), 2).alias("g")
        ).collect()
    }
    assert grams[1] == [] and grams[2] == [] and grams[3] == [] and grams[4] == []
    assert grams[5] == ["a b", "b c"]
    fp_docs = {r["doc_id"] for r in simhash(docs).collect()}
    assert fp_docs == {5}  # only the tokenizable doc fingerprints
    fps = {
        r["doc_id"]: r["fp"]
        for r in docs.select(
            "doc_id", positional_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[3] == 0 and fps[4] != 0 and fps[6] is None


def test_similarity_family_boundary_on_nonfinite_vectors(spark):
    """Non-finite contract (round 9): a vector with a NaN or Inf
    component is unsearchable/unindexable — BOTH engines place NaN
    above +Inf above every real in the comparison total order, so a
    poisoned cosine passes any `>= t` gate and ranks FIRST in a desc
    window on the JVM path while numpy's argsort ranks it LAST; and
    integer quantization ANSI-crashes (CAST_OVERFLOW) on it. searchable
    drops it, finite_vectors drops it (but keeps zero-norm), and the
    int8 audit keeps the row with NULL stats."""
    from procoggraph_spark.operators.similarity import (
        brute_force_topk,
        finite_vectors,
        int8_quantize_stats,
        searchable,
    )

    nan, inf = float("nan"), float("inf")
    rows = [(i, [float((i % 7) + d) for d in range(8)]) for i in range(30)]
    rows.append((95, [1.0, 2.0, nan] + [0.5] * 5))   # NaN component
    rows.append((96, [1.0, inf] + [0.25] * 6))       # +Inf component
    rows.append((97, [0.0] * 8))                     # zero-norm (finite)
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    ok = set(range(30))
    assert {r["vec_id"] for r in searchable(corpus).collect()} == ok
    assert {r["vec_id"] for r in finite_vectors(corpus).collect()} == ok | {97}

    qs = corpus.filter("vec_id < 3 OR vec_id >= 95")
    out = brute_force_topk(corpus, qs, id_col="vec_id", vec_col="embedding", k=5)
    bad = {95, 96, 97}
    got = out.collect()
    assert got
    assert all(
        r["query_id"] not in bad and r["neighbor_id"] not in bad for r in got
    )
    # no NaN/Inf similarity survives anywhere in the ranked output
    import math

    assert all(math.isfinite(r["cosine_sim"]) for r in got)

    audit = {r["vec_id"]: r for r in int8_quantize_stats(corpus).collect()}
    assert len(audit) == 33  # every row keeps its audit row
    for poisoned in (95, 96):
        r = audit[poisoned]
        assert r["q_norm2"] is None
        assert r["n_saturated"] is None
        assert r["recon_cos"] is None
    assert audit[97]["q_norm2"] == 0  # zero-norm: defined codes, NULL cosine
    assert audit[97]["recon_cos"] is None
