"""Windowed event aggregation: tumbling / sliding / session windows.

Each operator has one implementation usable in BOTH batch and streaming
mode — `F.window`/`F.session_window` work on static DataFrames too, so the
batch path is the oracle-checkable twin of the streaming path (same plan,
same results when the stream is drained with trigger(availableNow)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from procoggraph_spark.functions.timeutil import epoch_seconds
from procoggraph_spark.queries.common import TS_BAND_MIN, dsum2, valid_ts


def _events_stream(spark, events_path: str, schema, ts_col: str = "ts"):
    """readStream face of the events load, with the same ``valid_ts``
    event-time band the batch face applies in ``queries.common.t()``:
    a corrupted-clock timestamp (year-9999 sentinel, negative-epoch
    clock) degrades to NULL BEFORE it reaches a watermark, a window
    bucket, or a state-store fold — one out-of-band event must not
    crash the micro-batch's Arrow hop or window arithmetic. NULL event
    time then follows the already-pinned contract (excluded from
    windows/sessions, NULL-keyed where the operator keeps it)."""
    stream = spark.readStream.schema(schema).parquet(events_path)
    if ts_col in stream.columns:
        stream = stream.withColumn(ts_col, valid_ts(F.col(ts_col)))
    return stream


def _with_event_time(events: DataFrame, ts_col: str) -> DataFrame:
    """Event-time contract, shared by every windowed operator: an event
    with no event time cannot be assigned to any window and is excluded
    — the streaming semantic (Spark's TimeWindow drops NULL-ts rows;
    a watermark has nothing to compare). Explicit on the batch twins so
    the SQL oracles (`WHERE ts IS NOT NULL`) state the same contract
    instead of relying on an engine-specific NULL-bucket behavior
    (DuckDB's time_bucket keeps a NULL group — dirty-ts fuzz finding)."""
    return events.filter(F.col(ts_col).isNotNull())


def tumbling_counts(
    events: DataFrame, *, duration: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Per (tumbling window, event_type): count + exact value sum."""
    events = _with_event_time(events, ts_col)
    return (
        events.groupBy(F.window(ts_col, duration), "event_type")
        .agg(
            F.count("*").alias("n"),
            dsum2(F.col("value")).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    *,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Per (sliding window, event_type) counts — each event lands in
    duration/slide windows."""
    events = _with_event_time(events, ts_col)
    return (
        events.groupBy(F.window(ts_col, duration, slide), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )


def session_windows_batch(
    events: DataFrame, *, gap_minutes: int = 30, ts_col: str = "ts"
) -> DataFrame:
    """Sessionization, batch formulation: gaps-and-islands with lag +
    running sum — the oracle-friendly twin of `F.session_window` (which
    assigns merged-window semantics only under streaming aggregation).

    Output: one row per (user_id, session): start, end, n_events.
    """
    events = _with_event_time(events, ts_col)
    w = Window.partitionBy("user_id").orderBy(ts_col)
    gap = epoch_seconds(ts_col) - F.lag(epoch_seconds(ts_col)).over(w)
    with_sess = (
        events.withColumn("_gap", gap)
        .withColumn(
            "_new_sess",
            F.when(F.col("_gap").isNull() | (F.col("_gap") > gap_minutes * 60), 1).otherwise(0),
        )
        .withColumn("_sess", F.sum("_new_sess").over(w))
    )
    return with_sess.groupBy("user_id", "_sess").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    ).select("user_id", "session_start", "session_end", "n_events")


def session_windows_native(
    events: DataFrame, *, gap: str = "30 minutes", ts_col: str = "ts"
) -> DataFrame:
    """`F.session_window` formulation — the one to use under
    readStream + watermark (state-store backed merged sessions)."""
    events = _with_event_time(events, ts_col)
    return (
        events.groupBy(F.session_window(ts_col, gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


USER_TOTALS_STATE = "n LONG, total_cents LONG"
USER_TOTALS_OUTPUT = "user_id LONG, n LONG, total DOUBLE"


def _user_totals_fn(key, pdfs, state):
    """applyInPandasWithState update fn: per-user running (count, exact
    cents total). State is a (long, long) tuple — value sums use the
    same fixed-point discipline as the batch engine so streamed totals
    are bit-identical to the batch twin."""
    import pandas as pd

    import numpy as np

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # usable-measure mask: SQL SUM skips NULLs (NaN in pandas), and
        # the batch twin's finite_num band degrades NaN/±Inf AND
        # out-of-band magnitudes to NULL — the same rows are excluded
        # here so streamed totals stay bit-identical (int(NaN) raises;
        # a 1e300 value would overflow the LONG state column); the row
        # still counts toward n like the batch twin's count(*)
        v = pdf["value"]
        usable = np.isfinite(v) & (v.abs() <= 9.0e15)
        cents += int(round(v[usable] * 100, 0).sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n": [n], "total": [cents / 100.0]}
    )


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (beyond any built-in window):
    per-user running totals via ``applyInPandasWithState`` — the pattern
    the reference's incremental caches would need if fed from a stream.
    Output mode "update": each micro-batch emits the users it touched."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=USER_TOTALS_OUTPUT,
        stateStructType=USER_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_user_totals(events: DataFrame) -> DataFrame:
    """Batch twin of `stateful_user_totals` (same cents discipline)."""
    return events.groupBy("user_id").agg(
        F.count("*").alias("n"),
        dsum2(F.col("value")).alias("total"),
    )


def incremental_cache_stream(
    spark,
    events_path: str,
    schema,
    cache,
    *,
    checkpoint: str,
):
    """S16's incremental cache as Structured Streaming: readStream →
    ``trigger(availableNow=True)`` → ``foreachBatch`` upsert into a
    KeyedParquetCache. Each run drains only data arrived since the last
    checkpoint and merges new keys — the reference's
    "compute only what's not cached" (`get_pdb_parity.py:157-171`) with
    exactly-once progress tracking instead of a hand-rolled manifest.
    Caller awaits the returned query."""
    stream = _events_stream(spark, events_path, schema)

    def merge(batch_df, _batch_id: int) -> None:
        cache.upsert(batch_df.dropDuplicates(cache.key_cols))

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_tumbling_counts(
    spark,
    events_path: str,
    schema,
    *,
    duration: str = "1 hour",
    watermark: str = "10 minutes",
):
    """readStream twin of `tumbling_counts` with a late-data watermark.
    Drain with `.trigger(availableNow=True)` + `processAllAvailable()`
    for deterministic batch-equivalent results."""
    stream = _events_stream(spark, events_path, schema)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration), "event_type")
        .agg(
            F.count("*").alias("n"),
            dsum2(F.col("value")).alias("sum_value"),
        )
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def funnel_join_batch(
    events: DataFrame,
    *,
    first_type: str = "click",
    then_type: str = "error",
    within_minutes: int = 5,
) -> DataFrame:
    """Batch twin of the stream-stream funnel join: every ``then_type``
    event by the same user in the ``within_minutes`` after a
    ``first_type`` event (inclusive bounds). Equi-join on user_id with a
    time-range refinement — never a theta-only join.

    Output: (first_id, then_id, user_id).
    """
    a = events.filter(F.col("event_type") == first_type).select(
        F.col("event_id").alias("first_id"),
        F.col("user_id"),
        F.col("ts").alias("_ta"),
    )
    b = events.filter(F.col("event_type") == then_type).select(
        F.col("event_id").alias("then_id"),
        F.col("user_id"),
        F.col("ts").alias("_tb"),
    )
    return (
        a.join(b, "user_id")
        .filter(
            (F.col("_tb") >= F.col("_ta"))
            & (F.col("_tb") <= F.col("_ta") + F.expr(f"INTERVAL {within_minutes} MINUTES"))
        )
        .select("first_id", "then_id", "user_id")
    )


def streaming_funnel_join(
    spark,
    events_path: str,
    schema,
    *,
    first_type: str = "click",
    then_type: str = "error",
    within_minutes: int = 5,
    watermark: str = "30 minutes",
):
    """Stream-stream inner join with watermarks on both sides and a
    time-range join condition — the combination Spark requires to bound
    join state (each side's buffered rows age out once the other side's
    watermark passes the interval). Same semantics as
    `funnel_join_batch` when drained with trigger(availableNow)."""
    a = (
        _events_stream(spark, events_path, schema)
        .filter(F.col("event_type") == first_type)
        .select(
            F.col("event_id").alias("first_id"),
            F.col("user_id").alias("a_user"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", watermark)
    )
    b = (
        _events_stream(spark, events_path, schema)
        .filter(F.col("event_type") == then_type)
        .select(
            F.col("event_id").alias("then_id"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", watermark)
    )
    return a.join(
        b,
        F.expr(
            f"""
            a_user = b_user AND
            b_ts >= a_ts AND
            b_ts <= a_ts + INTERVAL {within_minutes} MINUTES
            """
        ),
    ).select(
        F.col("first_id"), F.col("then_id"), F.col("a_user").alias("user_id")
    )


def enriched_counts_batch(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Batch twin of the stream-static enrichment: events joined to the
    (broadcast) customer dimension, rolled up per (hour window, market
    segment)."""
    events = _with_event_time(events, "ts")
    j = events.join(
        F.broadcast(customers.select("c_custkey", "c_mktsegment")),
        events.user_id == F.col("c_custkey"),
    )
    return (
        j.groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(F.count("*").alias("n"), dsum2(F.col("value")).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "c_mktsegment",
            "n",
            "sum_value",
        )
    )


def streaming_enriched_counts(
    spark,
    events_path: str,
    schema,
    customers: DataFrame,
    *,
    watermark: str = "10 minutes",
):
    """Stream-static join: each micro-batch probes the static dimension
    (broadcast — no state store involved for the join side, unlike
    stream-stream), then a watermarked windowed aggregation. The
    standard enrichment topology for a 100 TB event firehose with a
    slowly-changing dimension."""
    stream = _events_stream(spark, events_path, schema)
    j = stream.join(
        F.broadcast(customers.select("c_custkey", "c_mktsegment")),
        stream.user_id == F.col("c_custkey"),
    )
    return (
        j.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "c_mktsegment")
        .agg(F.count("*").alias("n"), dsum2(F.col("value")).alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "c_mktsegment",
            "n",
            "sum_value",
        )
    )


def _wm_admissible(df: DataFrame, ts_col: str) -> DataFrame:
    """Event-time column safe for watermark ADMISSION, as ``_wm_ts``:
    Spark's initial watermark is epoch zero and
    ``dropDuplicatesWithinWatermark`` treats event time <= watermark as
    late, so an in-band pre-epoch timestamp (a 1969/epoch-zero
    corrupted clock — inside the valid_ts band, kept by every batch
    face) would be silently LOST in the very first micro-batch: data
    loss, not dedup (streaming-fuzz finding, round 10). The operator
    watermarks a CLAMPED COPY (floor epoch+1s; NULL preserved — a
    NULL event time is admitted natively); the payload ts is
    untouched. A pre-epoch row arriving after the watermark has
    advanced follows the standard late-data policy like any other
    stale row."""
    return df.withColumn(
        "_wm_ts",
        F.when(
            F.col(ts_col).isNotNull(),
            F.greatest(
                F.col(ts_col), F.lit(TS_BAND_MIN).cast("timestamp")
            ),
        ),
    )


def streaming_dedup(
    spark,
    events_path: str,
    schema,
    *,
    key: str = "event_id",
    watermark: str = "1 hour",
    ts_col: str = "ts",
):
    """Streaming exact dedup: first occurrence per ``key`` within a
    watermark — state holds only ids younger than the watermark, so
    memory is bounded at any stream length (the streaming face of the
    dedup_exact batch operator; re-delivered events are dropped).

    State is keyed on the id ALONE via ``dropDuplicatesWithinWatermark``
    — a redelivery that arrives with a bumped event time (retry queues
    rewrite timestamps) is still a duplicate. ``dropDuplicates([key,
    ts_col])`` would key state on (id, event-time) and admit it twice.
    The watermark rides the clamped ``_wm_ts`` copy (see
    ``_wm_admissible``) so pre-epoch corrupted clocks are admitted
    instead of silently lost."""
    stream = _wm_admissible(_events_stream(spark, events_path, schema), ts_col)
    return (
        stream.withWatermark("_wm_ts", watermark)
        .dropDuplicatesWithinWatermark([key])
        .drop("_wm_ts")
    )


def streaming_cms(
    spark,
    events_path: str,
    schema,
    *,
    key_col: str,
    sketch_dir: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 64,
):
    """Count-Min Sketch maintained incrementally over a stream: each
    micro-batch sketches only its own rows (a bounded depth×width
    partial) and merges cell-wise into the persistent sketch. This works
    precisely because the sketch is mergeable by addition — streaming
    state is O(depth × width) forever, with no per-key state store and
    no growth with stream cardinality. The merged sketch never transits
    the driver: each batch writes the merged cells to a fresh versioned
    directory and atomically repoints the ``sketch_dir`` symlink
    (read-old-while-writing-new, so there is no overwrite-while-reading
    hazard and no collect/createDataFrame round-trip even for the
    bounded state). Caller awaits the returned query."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from procoggraph_spark.operators.sketches import cms_build

    stream = _events_stream(spark, events_path, schema)

    def merge(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        part = cms_build(
            batch_df.select(F.col(key_col).cast("string").alias("_k")),
            "_k",
            depth=depth,
            width=width,
        )
        prev = os.path.realpath(sketch_dir) if os.path.lexists(sketch_dir) else None
        vdir = f"{sketch_dir}.v{batch_id}"
        if prev is not None and prev == os.path.realpath(vdir):
            # crash-replay of an already-applied batch (the symlink
            # already points at this batch's version): skip — makes the
            # at-least-once foreachBatch contract exactly-once here
            return
        if prev is not None and os.path.exists(prev):
            part = (
                part.unionByName(sess.read.parquet(prev))
                .groupBy("row_id", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        part.coalesce(1).write.mode("overwrite").parquet(vdir)
        # atomic swap: symlink-to-temp then rename over the live link —
        # readers see the old version until the rename lands
        tmp_link = f"{sketch_dir}.lnk.{batch_id}"
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(vdir, tmp_link)
        os.replace(tmp_link, sketch_dir)
        if prev is not None and prev != os.path.realpath(vdir):
            shutil.rmtree(prev, ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_bloom_gate(
    spark,
    docs_path: str,
    schema,
    blocklist,
    *,
    key_col: str = "text",
    n_bits: int = 4096,
    n_hashes: int = 3,
    flag_col: str = "blocked",
):
    """Streaming blocklist gate: every arriving document probes a Bloom
    bitmap built from a static blocklist (stream-static broadcast of the
    single-row bitmap — the streaming face of `sketches.bloom_probe`).
    A false probe is a guaranteed pass (no false negatives), so the gate
    never lets a blocked key through; rare false positives go to the
    same downstream exact check as the batch two-phase decontaminate.

    State: none — the probe is stateless map-side work per micro-batch,
    so the gate runs at ingest parallelism with no state store at any
    stream length; updating the blocklist is re-broadcasting one row.
    """
    from procoggraph_spark.operators.sketches import bloom_build, bloom_probe

    bits = bloom_build(blocklist, key_col, n_bits=n_bits, n_hashes=n_hashes)
    stream = spark.readStream.schema(schema).parquet(docs_path)
    return bloom_probe(
        stream, key_col, bits, n_bits=n_bits, n_hashes=n_hashes, flag_col=flag_col
    )


def streaming_incremental_ingest(
    spark,
    docs_path: str,
    schema,
    history,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
):
    """Streaming face of ``dedup.incremental_ingest_dedup``: documents
    arriving on a stream are admitted only if their content key (md5 of
    the text) is neither in the static, already-ingested history nor
    seen earlier in the stream — the continual-crawl ingest gate run at
    arrival time instead of per-batch.

    Plan: the history collapses to its DISTINCT key set once (static
    side of a stream-static left join — stateless for the stream;
    Spark re-plans the static side per micro-batch, so a growing
    history table is picked up on the next trigger without restarting
    the query). Within-stream firsts use ``dropDuplicates`` on the
    content key: with ``ts_col`` set, state is watermark-bounded (the
    production posture — re-crawled content older than the watermark is
    instead caught by the history side once the key table is upserted);
    without it, availableNow drains with keys-seen state for the drain
    (the test/backfill posture).

    Returns the admitted-documents stream (the rows an ingest pipeline
    appends to the corpus and whose keys it upserts into the history
    table, S16 cache discipline). The choice of WHICH duplicate
    survives is arrival-order-dependent; the admitted key SET is not —
    the batch-equality test pins exactly that invariant.
    """
    # Content key matches the batch twin exactly (dedup.py
    # incremental_ingest_dedup): md5 with NULL text coalesced to a
    # sentinel on BOTH sides. A bare md5(NULL) key is NULL, and NULL
    # join keys never match — a NULL-text document in history would
    # not suppress NULL-text stream arrivals, breaking the
    # admitted-key-set invariant on dirty corpora.
    key = F.coalesce(F.md5(F.col(text_col)), F.lit("__NULL_TEXT__"))
    hkeys = (
        history.select(key.alias("_k"))
        .distinct()
        .withColumn("_in_hist", F.lit(True))
    )
    stream = spark.readStream.schema(schema).parquet(docs_path)
    keyed = stream.withColumn("_k", key)
    if ts_col is not None:
        # dropDuplicatesWithinWatermark keys state on _k ALONE (state
        # still expires at the watermark): the same content arriving
        # twice with different event times inside the watermark is
        # admitted once. dropDuplicates(["_k", ts_col]) would key on
        # (content, event-time) and re-admit re-crawls with fresh
        # timestamps, breaking the admitted-key-set invariant. The
        # watermark rides the clamped _wm_ts copy (_wm_admissible) so a
        # pre-epoch crawl timestamp is admitted, not silently lost.
        keyed = _wm_admissible(keyed, ts_col).withWatermark(
            "_wm_ts", watermark
        )
        fresh = keyed.join(hkeys, "_k", "left").filter(
            F.col("_in_hist").isNull()
        ).dropDuplicatesWithinWatermark(["_k"]).drop("_wm_ts")
    else:
        fresh = keyed.join(hkeys, "_k", "left").filter(
            F.col("_in_hist").isNull()
        ).dropDuplicates(["_k"])
    return fresh.drop("_in_hist")


def streaming_ivf_pq_index(
    spark,
    vec_path: str,
    schema,
    cell_centroids,
    codebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continual ANN index maintenance: newly arriving vectors are
    encoded into IVF+PQ index rows (coarse cell + 16 B codes) AT
    ARRIVAL — the streaming face of `pq.ivf_pq_index_numpy`, feeding
    the same index table `ivf_pq_topk`/`ivf_pq_rerank_topk` serve
    from.

    State: none — encoding is a pure function of the vector against
    the broadcast-sized frozen models (centroids + codebooks ship in
    the task closure), so the stream runs stateless at ingest
    parallelism for any stream length; an append sink gives
    exactly-once index rows under retries because re-encoding a replayed
    batch is deterministic. Model REFRESH (retraining cells/codebooks)
    is a new index generation by design — the batch builder rewrites
    under a new path and serving flips atomically (the versioned-dir +
    symlink-swap discipline of `streaming_cms`), never an in-place
    mutation of a live index.
    """
    from procoggraph_spark.operators.pq import ivf_pq_index_numpy

    stream = spark.readStream.schema(schema).parquet(vec_path)
    return ivf_pq_index_numpy(
        stream, cell_centroids, codebooks, id_col=id_col, vec_col=vec_col
    )


def streaming_scd2(
    spark,
    cdc_path: str,
    schema,
    history_dir: str,
    *,
    key_col: str,
    attr_col: str,
    checkpoint: str,
):
    """SCD type-2 dimension maintenance over a CDC stream: each
    micro-batch of (key, attr) delta rows merges into the versioned
    history parquet via ``operators.temporal.scd2_apply`` — changed
    keys close their current row and open version+1, new keys insert
    at version 1.

    Durability follows the streaming_cms pattern: the merged history
    writes to a fresh versioned directory and an atomic symlink rename
    repoints ``history_dir`` (readers see the old version until the
    rename lands; a crash-replayed batch whose version is already live
    is skipped, making the at-least-once foreachBatch contract
    exactly-once here). At warehouse scale, partition the history by
    key bucket and rewrite only touched partitions instead of the full
    swap. Caller awaits the returned query.
    """
    import os
    import shutil

    from pyspark.sql import types as T

    from procoggraph_spark.operators.temporal import scd2_apply

    stream = spark.readStream.schema(schema).parquet(cdc_path)
    hist_schema = T.StructType(
        [
            schema[key_col],
            schema[attr_col],
            T.StructField("version", T.IntegerType(), False),
            T.StructField("is_current", T.BooleanType(), False),
        ]
    )

    def merge(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        prev = (
            os.path.realpath(history_dir)
            if os.path.lexists(history_dir)
            else None
        )
        vdir = f"{history_dir}.v{batch_id}"
        if prev is not None and prev == os.path.realpath(vdir):
            return  # crash-replay of an already-applied batch
        if prev is not None and os.path.exists(prev):
            hist = sess.read.parquet(prev)
        else:
            hist = sess.createDataFrame([], hist_schema)
        merged = scd2_apply(
            hist,
            batch_df.select(key_col, attr_col),
            key_col=key_col,
            attr_col=attr_col,
        )
        merged.write.mode("overwrite").parquet(vdir)
        tmp_link = f"{history_dir}.lnk.{batch_id}"
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(vdir, tmp_link)
        os.replace(tmp_link, history_dir)
        if prev is not None and prev != os.path.realpath(vdir):
            shutil.rmtree(prev, ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_data_card(
    spark,
    docs_path: str,
    schema,
    card_dir: str,
    *,
    source_col: str = "source",
    text_col: str = "text",
    checkpoint: str,
):
    """The corpus data card maintained incrementally over a document
    stream: each micro-batch classifies its documents through the gate
    chain (operators.text.curation_data_card) and merges the per-source
    decision counts into the running card via
    ``operators.scale.incremental_agg_refresh`` — so the published
    card stays current without ever rescanning the corpus. Durability
    is the streaming_cms / streaming_scd2 atomic version-swap (crash-
    replayed batches skip; exactly-once counts).

    The derived ``kept_rate`` is recomputed from the merged counts on
    read (rates are not decomposable; counts are), keeping the stored
    state mergeable.
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    from procoggraph_spark.operators.text import curation_data_card

    stream = spark.readStream.schema(schema).parquet(docs_path)
    count_cols = [
        "n_drop_lang",
        "n_drop_quality",
        "n_drop_repetition",
        "n_kept",
    ]

    def merge(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        part = curation_data_card(
            batch_df, source_col=source_col, text_col=text_col
        ).drop("kept_rate", "n_docs")
        prev = os.path.realpath(card_dir) if os.path.lexists(card_dir) else None
        vdir = f"{card_dir}.v{batch_id}"
        if prev is not None and prev == os.path.realpath(vdir):
            return  # crash-replay of an already-applied batch
        batch_card = part.withColumn(
            "n_rows", sum(F.col(c) for c in count_cols).cast("long")
        )
        if prev is not None and os.path.exists(prev):
            # the batch card is already at card grain, so the refresh's
            # "delta agg" phase is done — merge is the mergeable-counts
            # union + re-reduce (incremental_agg_refresh's second phase)
            merged = (
                sess.read.parquet(prev)
                .unionByName(batch_card)
                .groupBy(source_col)
                .agg(
                    *[F.sum(c).cast("long").alias(c) for c in count_cols],
                    F.sum("n_rows").cast("long").alias("n_rows"),
                )
            )
        else:
            merged = batch_card
        merged.write.mode("overwrite").parquet(vdir)
        tmp_link = f"{card_dir}.lnk.{batch_id}"
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(vdir, tmp_link)
        os.replace(tmp_link, card_dir)
        if prev is not None and prev != os.path.realpath(vdir):
            shutil.rmtree(prev, ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_data_card(spark, card_dir: str, *, source_col: str = "source"):
    """Read the streaming card state and derive the non-decomposable
    columns (n_docs, kept_rate) from the merged counts."""
    from pyspark.sql import functions as F

    raw = spark.read.parquet(card_dir)
    return raw.select(
        source_col,
        F.col("n_rows").alias("n_docs"),
        "n_drop_lang",
        "n_drop_quality",
        "n_drop_repetition",
        "n_kept",
        F.round(F.col("n_kept") / F.col("n_rows"), 6).alias("kept_rate"),
    )


def streaming_volume_monitor(
    spark,
    events_path: str,
    schema,
    state_dir: str,
    *,
    ts_col: str = "ts",
    type_col: str = "event_type",
    checkpoint: str,
):
    """The hourly volume-anomaly monitor maintained incrementally over
    an event stream: each micro-batch aggregates to (event_type, hour)
    counts and merges them into the running hourly table — counts are
    mergeable, so a late event for an already-seen hour folds in
    correctly. Durability is the streaming_cms / streaming_data_card
    atomic version-swap (crash-replayed batches skip; exactly-once
    counts). Z-scores are NOT stored: they derive at read time via
    analytics.anomaly_from_hourly (scores aren't decomposable; counts
    are), so the monitor state stays O(types × hours) and mergeable.
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    # NULL event-time contract at the ingest boundary (same filter as
    # the batch op): a timestamp-less event — including a corrupted
    # clock degraded by the valid_ts band — belongs to no hourly bucket
    # and must not reach the state merge. Without this, ONE dirty clock
    # in ANY micro-batch plants a permanent NULL bucket_start row that
    # sorts first in the trailing window and silently shifts every
    # z-score after it (streaming-face fuzz, round 11: 5 phantom rows +
    # drifted trail means on the dirty corpus).
    stream = _with_event_time(
        _events_stream(spark, events_path, schema, ts_col=ts_col), ts_col
    )

    def merge(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        part = batch_df.groupBy(
            F.col(type_col).alias("event_type"),
            F.date_trunc("hour", F.col(ts_col)).alias("bucket_start"),
        ).agg(F.count("*").alias("n"))
        prev = os.path.realpath(state_dir) if os.path.lexists(state_dir) else None
        vdir = f"{state_dir}.v{batch_id}"
        if prev is not None and prev == os.path.realpath(vdir):
            return  # crash-replay of an already-applied batch
        if prev is not None and os.path.exists(prev):
            merged = (
                sess.read.parquet(prev)
                .unionByName(part)
                .groupBy("event_type", "bucket_start")
                .agg(F.sum("n").cast("long").alias("n"))
            )
        else:
            merged = part.withColumn("n", F.col("n").cast("long"))
        merged.write.mode("overwrite").parquet(vdir)
        tmp_link = f"{state_dir}.lnk.{batch_id}"
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(vdir, tmp_link)
        os.replace(tmp_link, state_dir)
        if prev is not None and prev != os.path.realpath(vdir):
            shutil.rmtree(prev, ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_volume_anomalies(
    spark, state_dir: str, *, trail: int = 24, z_cut: float = 3.0
):
    """Serve anomaly z-scores over the maintained hourly state."""
    from procoggraph_spark.operators.analytics import anomaly_from_hourly

    return anomaly_from_hourly(
        spark.read.parquet(state_dir), trail=trail, z_cut=z_cut
    )


def streaming_srm_monitor(
    spark,
    docs_path: str,
    schema,
    state_dir: str,
    *,
    id_col: str = "doc_id",
    segment_col: str = "source",
    n_arms: int = 2,
    checkpoint: str,
):
    """The A/B sample-ratio-mismatch guardrail maintained incrementally
    over an assignment stream: each micro-batch hashes its units to arms
    (the same portable assignment as analytics.ab_assignment_srm) and
    merges (segment, arm) counts into the running state via the
    streaming_cms / streaming_data_card atomic version-swap
    (crash-replayed batches skip; exactly-once counts). The chi-square
    and flag are NOT stored — they are derived at read time by
    ``read_srm_monitor`` from the merged counts, because counts are
    mergeable and chi2 is not. This is how an experimentation system
    actually watches SRM: continuously, on the assignment log, without
    rescanning it.
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    from procoggraph_spark.operators.sampling import hash_bucket

    stream = spark.readStream.schema(schema).parquet(docs_path)

    def merge(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        arm = hash_bucket(F.col(id_col), buckets=n_arms)
        part = (
            batch_df.select(
                F.col(segment_col).alias("segment"), arm.alias("arm")
            )
            .groupBy("segment", "arm")
            .agg(F.count("*").cast("long").alias("n"))
        )
        prev = os.path.realpath(state_dir) if os.path.lexists(state_dir) else None
        vdir = f"{state_dir}.v{batch_id}"
        if prev is not None and prev == os.path.realpath(vdir):
            return  # crash-replay of an already-applied batch
        if prev is not None and os.path.exists(prev):
            merged = (
                sess.read.parquet(prev)
                .unionByName(part)
                .groupBy("segment", "arm")
                .agg(F.sum("n").cast("long").alias("n"))
            )
        else:
            merged = part
        merged.write.mode("overwrite").parquet(vdir)
        tmp_link = f"{state_dir}.lnk.{batch_id}"
        if os.path.lexists(tmp_link):
            os.remove(tmp_link)
        os.symlink(vdir, tmp_link)
        os.replace(tmp_link, state_dir)
        if prev is not None and prev != os.path.realpath(vdir):
            shutil.rmtree(prev, ignore_errors=True)

    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_srm_monitor(spark, state_dir: str, *, n_arms: int = 2):
    """Read the merged (segment, arm) counts and derive the chi-square
    + SRM flag with the exact-integer-numerator arithmetic of
    analytics.ab_assignment_srm — batch-equal by construction (counts
    merge associatively; the derivation is a pure function of them).
    Zero-unit arms are filled in from the arm grid, as in the batch op.
    """
    from pyspark.sql import functions as F

    from procoggraph_spark.operators.analytics import chi2_crit_95

    crit = chi2_crit_95(n_arms)
    raw = spark.read.parquet(state_dir)
    # One groupBy pivots the (segment, arm) counts to per-segment arm
    # columns — zero-unit arms fall out as coalesced 0 (their n^2 term
    # is the worst mismatch, not an absent row), and a NULL segment
    # stays a REAL monitored segment because groupBy matches NULL keys.
    # The previous segment-grid formulation equi-joined the grid back
    # to its own counts, so the NULL segment never matched itself: both
    # arms zero-filled, _t = 0, and the served read crashed with an
    # ANSI divide-by-zero on any assignment log carrying unattributed
    # traffic (streaming-face fuzz, round 11) — while the batch op and
    # the SQL twin (IS NOT DISTINCT FROM) both kept it.
    seg = raw.groupBy("segment").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("arm") == a, F.col("n"))), F.lit(0)
            ).cast("long").alias(f"_n{a}")
            for a in range(n_arms)
        ]
    )
    tot = None
    for a in range(n_arms):
        tot = F.col(f"_n{a}") if tot is None else tot + F.col(f"_n{a}")
    num = None
    for a in range(n_arms):
        dev = F.lit(n_arms) * F.col(f"_n{a}") - F.col("_t")
        num = dev * dev if num is None else num + dev * dev
    seg = seg.withColumn("_t", tot).withColumn(
        "chi2",
        F.round(
            num.cast("double") / (F.lit(n_arms) * F.col("_t").cast("double")),
            6,
        ),
    )
    pairs = ", ".join(f"{a}L, _n{a}" for a in range(n_arms))
    return seg.selectExpr(
        "segment", f"stack({n_arms}, {pairs}) AS (arm, n)", "chi2"
    ).select(
        "segment",
        "arm",
        F.col("n").cast("long").alias("n"),
        "chi2",
        (F.col("chi2") > F.lit(crit)).alias("srm_flag"),
    )
