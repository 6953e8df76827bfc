"""Structured Streaming operators over the events table.

The reference is batch-only (SURVEY.md §2.7: no streaming anywhere), so
this module is pure extension surface: tumbling-window aggregation with
watermarked late-data handling, plus a session-window variant. Batch
equivalents live in the entry queries so the streaming results are
oracle-checkable (stream over a static parquet dir == batch over it when
run to completion in complete mode).
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timeutil import read_nanos_ts
from ..operators.text import _words
from ..operators.util import lineage_checkpoint


def _stream_parquet(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a parquet directory or a single parquet file. The
    streaming file source requires a directory, so a single file streams
    its parent dir with a glob filter on the file name."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if path.endswith(".parquet"):
        path, _, fname = path.rpartition("/")
        reader = reader.option("pathGlobFilter", fname)
    return reader.parquet(path)


def _read_stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """readStream over the events parquet, ``ts`` normalized exactly like
    the batch loader (:func:`~..functions.timeutil.read_nanos_ts`)."""
    return read_nanos_ts(spark, lambda: _stream_parquet(spark, events_dir))


def _to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Run the streaming frame ``df`` to completion into a memory sink
    with output ``mode`` and return the sink table. Default trigger plus
    ``processAllAvailable``: every file present at start is processed."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.table(name)


def _fold_stream(
    spark: SparkSession,
    src: DataFrame,
    n_files: int,
    state: dict[str, DataFrame],
    step: Callable[[dict[str, DataFrame], DataFrame], dict[str, DataFrame]],
    op: str,
) -> dict[str, DataFrame]:
    """The incremental-fold harness of the st9-st23 operators: fold the
    rows of ``src`` into ``state`` one micro-batch at a time and return
    the final state.

    ``src`` is spilled to ``n_files`` parquet files and streamed back
    with ``maxFilesPerTrigger=1`` under ``Trigger.AvailableNow``, so the
    fold genuinely crosses micro-batches. Each epoch calls
    ``step(state, batch_df)``, which returns the next state. Every state
    frame (initial and per epoch) is eagerly lineage-checkpointed, so
    lineage stays flat across any number of epochs and per-epoch work is
    O(batch + |state|). Fewer than two epochs raises: the multi-epoch
    fold is the point of the tier. The spill dir is removed and the
    query stopped on every exit path.
    """
    tmp = tempfile.mkdtemp(prefix=f"{op}_")
    try:
        src.repartition(n_files).write.mode("overwrite").parquet(tmp)
        schema = spark.read.parquet(tmp).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        state = {k: lineage_checkpoint(v, eager=True) for k, v in state.items()}
        epochs = 0

        def fold(batch_df: DataFrame, epoch_id: int) -> None:
            nonlocal state, epochs
            state = {
                k: lineage_checkpoint(v, eager=True)
                for k, v in step(state, batch_df).items()
            }
            epochs += 1

        q = stream.writeStream.foreachBatch(fold).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        if epochs < 2:
            raise RuntimeError(
                f"{op} expected >= 2 micro-batches (got {epochs}); the "
                "multi-epoch fold is the point of the streaming tier."
            )
        return state
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def streaming_tumbling_counts(
    spark: SparkSession,
    events_dir: str,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Run a watermarked tumbling-window count/sum over the events parquet
    directory AS A STREAM, to completion, and return the final result.

    Uses complete output mode + memory sink so every window is emitted
    (append mode would withhold the last windows past the watermark —
    fine for an unbounded source, wrong for a finite oracle check).
    On a real cluster the source becomes Kafka and the sink a Delta/
    parquet table; the aggregation is unchanged.
    """
    stream = _read_stream_events(spark, events_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _to_memory(agg, "complete")


def streaming_session_counts(
    spark: SparkSession,
    events_dir: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session-window (dynamic gap-based) aggregation as a stream:
    ``session_window(ts, gap)`` keyed by user. Streaming-native
    counterpart of operators.relational.sessionize."""
    stream = _read_stream_events(spark, events_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    return _to_memory(agg, "complete")


def streaming_stateful_counts(
    spark: SparkSession, events_dir: str
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (count, first-seen, last-seen) held in GroupState
    across micro-batches — the arbitrary-state API for operators that
    window/session aggregation can't express (per-key counters, online
    models, CDC merge).

    Emits the running totals per key per batch (update mode); because
    count/min/max are monotone, the finite-input final answer is the
    per-user max/min/max over emitted rows — which equals the batch
    group-by, making this oracle-checkable. Timestamps are carried as
    epoch-microsecond int64 (never raw timestamps) per the determinism
    contract.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _read_stream_events(spark, events_dir).select("user_id", "ts")

    out_schema = (
        "user_id bigint, n_events bigint, first_us bigint, last_us bigint"
    )
    state_schema = "n bigint, lo bigint, hi bigint"

    def track(key, pdfs, state: GroupState):
        if state.exists:
            n, lo, hi = state.get
        else:
            n, lo, hi = 0, None, None
        for pdf in pdfs:
            us = (
                pd.to_datetime(pdf["ts"])
                .values.astype("datetime64[us]")
                .astype("int64")
            )
            if len(us):
                n += len(us)
                b_lo, b_hi = int(us.min()), int(us.max())
                lo = b_lo if lo is None else min(lo, b_lo)
                hi = b_hi if hi is None else max(hi, b_hi)
        state.update((n, lo, hi))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "first_us": [lo], "last_us": [hi]}
        )

    running = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # fold per-batch running rows to the final state per key
    return (
        _to_memory(running, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("first_us").alias("first_us"),
            F.max("last_us").alias("last_us"),
        )
    )


def streaming_tws_counts(spark: SparkSession, events_dir: str) -> DataFrame:
    """Spark 4 ``transformWithStateInPandas`` twin of
    :func:`streaming_stateful_counts`: the same per-user running
    (count, first-seen, last-seen), but held in the new StatefulProcessor
    API's typed ValueState instead of GroupState. This is the
    forward-looking arbitrary-state surface (composable named states,
    timers, TTL); it REQUIRES the RocksDB state store provider, which is
    also the right provider at scale (state spills to disk instead of
    executor heap). Same finite-input contract as st3: running outputs
    fold to the batch group-by, so the oracle is identical.

    Gated dependency: the transformWithState worker protocol serializes
    state through protobuf, which this sandbox does not ship — the guard
    below fails fast with guidance instead of a mid-query worker crash.
    The applyInPandasWithState twin (st3) covers the same semantics
    everywhere.
    """
    try:
        import google.protobuf  # noqa: F401
    except ImportError as ex:
        raise RuntimeError(
            "streaming_tws_counts requires the protobuf Python package on "
            "workers (transformWithState state serialization); it is not "
            "installed here. Use streaming_stateful_counts "
            "(applyInPandasWithState) for identical semantics."
        ) from ex

    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    stream = _read_stream_events(spark, events_dir).select("user_id", "ts")
    out_schema = (
        "user_id bigint, n_events bigint, first_us bigint, last_us bigint"
    )

    class RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n bigint, lo bigint, hi bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            if self._agg.exists():
                n, lo, hi = self._agg.get()
            else:
                n, lo, hi = 0, None, None
            for pdf in rows:
                us = (
                    pd.to_datetime(pdf["ts"])
                    .values.astype("datetime64[us]")
                    .astype("int64")
                )
                if len(us):
                    n += len(us)
                    b_lo, b_hi = int(us.min()), int(us.max())
                    lo = b_lo if lo is None else min(lo, b_lo)
                    hi = b_hi if hi is None else max(hi, b_hi)
            self._agg.update((n, lo, hi))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "first_us": [lo],
                    "last_us": [hi],
                }
            )

        def close(self) -> None:
            pass

    running = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningAgg(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    # The RocksDB provider is required by transformWithState (and the
    # right provider at scale), but it is a SESSION conf — set it only
    # around this query's run and restore the prior value so later
    # streaming queries on the shared session keep their own provider.
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = _to_memory(running, "update")
    finally:
        if prior is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prior)
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("first_us").alias("first_us"),
        F.max("last_us").alias("last_us"),
    )


def streaming_static_join_counts(
    spark: SparkSession, events_dir: str, profiles: DataFrame
) -> DataFrame:
    """Stream-static join: each micro-batch of the event stream joins the
    static ``profiles`` dimension (broadcast per batch, no state), then a
    grouped aggregate. The enrich-then-aggregate shape of a production
    feature pipeline; at scale the static side is a slowly-refreshed dim
    table and the join stays shuffle-free via broadcast."""
    stream = _read_stream_events(spark, events_dir).select("user_id", "value")
    joined = stream.join(F.broadcast(profiles), "user_id")
    agg = joined.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias(
            "total_value"
        ),
    )
    return _to_memory(agg, "complete")


def stream_to_parquet_idempotent(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """foreachBatch parquet sink with epoch-keyed idempotence: each
    micro-batch writes to a batch-id subdirectory with overwrite, so a
    replayed epoch (failure/retry) rewrites the same files instead of
    duplicating rows — exactly-once output on top of at-least-once
    delivery. Returns the number of epochs committed."""
    stream = _read_stream_events(spark, events_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    epochs = []

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
        epochs.append(epoch_id)

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return len(epochs)


def streaming_dedup(
    spark: SparkSession, events_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact deduplication: the event stream is unioned with a
    second read of itself (guaranteed duplicates, the at-least-once
    delivery case), then ``dropDuplicatesWithinWatermark`` on the event
    key restores exact distinctness. State holds one key per event inside
    the watermark horizon and is evicted as the watermark advances — the
    property that makes streaming dedup feasible on an unbounded 100 TB/day
    feed, where a plain ``dropDuplicates`` would accumulate state forever.

    Dedup is a stateful filter (not an aggregation): append mode emits
    each surviving row immediately. Every output column is copy-invariant,
    so the finite-input result equals the batch DISTINCT (the oracle).
    """
    a = _read_stream_events(spark, events_dir)
    b = _read_stream_events(spark, events_dir)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
        )
    )
    return _to_memory(deduped, "append")


def streaming_stream_stream_join(
    spark: SparkSession,
    events_dir: str,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: clicks joined to the views that follow
    them within ``within``, both sides watermarked. The time-bound predicate
    is what makes an unbounded-stream join feasible — it lets Spark evict
    buffered rows once the watermark passes click_ts + within, so state is
    O(rate x window), not O(stream). Inner-join matches emit as soon as
    both sides arrive (append mode withholds nothing for inner joins);
    finite input therefore equals the batch interval join (the oracle).
    """
    ev = _read_stream_events(spark, events_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        _read_stream_events(spark, events_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    joined = clicks.join(
        views,
        F.expr(
            f"c_user = v_user AND view_ts >= click_ts "
            f"AND view_ts <= click_ts + interval {within}"
        ),
    ).select(
        "click_id",
        "view_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("view_ts").alias("view_us"),
    )
    return _to_memory(joined, "append")


def incremental_ingest_available_now(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str = "id bigint, v string",
) -> int:
    """Incremental batch ingestion with Trigger.AvailableNow: process
    everything currently in ``in_dir`` as a bounded streaming job, commit
    the source offsets to the checkpoint, and stop. Re-running after new
    files land processes ONLY the new files — the scheduled-job pattern
    (hourly cron over a landing zone) that replaces hand-rolled
    "which files did I already load" bookkeeping at any scale; the
    checkpoint is the exactly-once ledger. Returns rows written this run.
    """
    counted = {"n": 0}

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        rows = df.count()
        counted["n"] += rows
        if rows:
            df.write.mode("append").parquet(out_dir)

    q = (
        spark.readStream.schema(schema)
        .json(in_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counted["n"]


def streaming_ohlc_bars(
    spark: SparkSession,
    events_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming OHLC downsampling — the q80 batch shape as a watermarked
    tumbling-window stream: per (user, hour) the opening value (first by
    event time), high, low, and closing value (last by event time), as
    one streaming hash aggregate with ``min_by``/``max_by`` on the same
    fixed-width zero-padded (epoch-micros, event_id) total-order key q80
    uses — so under timestamp ties the same row wins in both the batch
    oracle and every micro-batch schedule (the declarative aggregate is
    merge-associative; arrival order cannot change the result). Exact
    BIGINT cents. A real deployment points the source at Kafka and the
    sink at a Delta table; the aggregation is unchanged — this is live
    candlestick downsampling for a market-data/metrics feed.
    """
    stream = _read_stream_events(spark, events_dir)
    e = stream.select(
        "user_id",
        F.col("ts"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
        F.concat(
            F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 20, "0"),
        ).alias("k"),
    )
    agg = (
        e.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(
            F.expr("min_by(v, k)").alias("open_cents"),
            F.max("v").alias("high_cents"),
            F.min("v").alias("low_cents"),
            F.expr("max_by(v, k)").alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("hour_us"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_events",
        )
    )
    return _to_memory(agg, "complete")


def streaming_incremental_refresh(
    spark: SparkSession,
    initial_mv: DataFrame,
    deltas: DataFrame,
    keys: list[str],
    vals: list[str],
    n_files: int = 4,
) -> DataFrame:
    """Streaming materialized-view maintenance — the streaming twin of
    the c6 batch flagship: a CDC delta feed (retraction/addition
    partials: deletes carry negative measures, updates a retract+add
    pair, inserts positive rows) maintains a grouped-aggregate MV via
    ``foreachBatch`` + ``merge_partial_aggs``, never rescanning the
    base table.

    The delta frame is spilled to ``n_files`` parquet files and
    streamed back with ``maxFilesPerTrigger=1`` under
    ``Trigger.AvailableNow``, so the fold genuinely crosses multiple
    micro-batches: each epoch partial-aggregates ITS OWN batch
    distributed-side (one hash agg on the group keys), then folds the
    result into the running MV with one more merge — per-epoch work is
    O(batch + |MV|), and the MV frame is eagerly checkpointed each
    epoch so lineage stays flat across any number of epochs (the d5/g1
    iterative idiom applied to streaming state). Because every measure
    is an exact integer SUM (associative + commutative), the final MV
    is independent of how the changelog splits into micro-batches —
    the finite-input result equals the full recompute over the
    CDC-applied table (the oracle), which is the view-maintenance
    theorem proven IN THE STREAMING PATH.

    On a real cluster the file source becomes Kafka/Delta CDF and the
    MV lives in a Delta table MERGEd per epoch; the per-epoch algebra
    is unchanged.
    """
    from ..operators.relational import merge_partial_aggs

    def step(state: dict, batch_df: DataFrame) -> dict:
        partials = batch_df.groupBy(*keys).agg(
            *[F.sum(v).cast("bigint").alias(v) for v in vals]
        )
        return {
            "mv": merge_partial_aggs(state["mv"].unionByName(partials), keys, vals)
        }

    return _fold_stream(
        spark, deltas, n_files, {"mv": initial_mv}, step,
        "streaming_incremental_refresh",
    )["mv"]


def streaming_daily_uniques(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """EXACT distinct users per day AS A STREAM — normally impossible
    (streaming COUNT DISTINCT needs unbounded state per key) but the
    positional-bitmap trick (q63/q100) makes the distinct MERGEABLE:
    the one streaming aggregation keeps a fixed-size bitmap per
    (day, bucket) — new events OR bits in, state never grows with
    event count, RocksDB-friendly — and the bucket rollup (popcount +
    sum) runs on the sink table, the streaming-preagg /
    serving-layer-rollup split a production pipeline uses anyway
    (Spark disallows chained streaming aggregations). Result equals
    the batch per-day COUNT(DISTINCT) exactly — not an HLL estimate.
    """
    stream = _read_stream_events(spark, events_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
             .alias("bm"))
        .select(
            F.to_date(F.col("w.start")).alias("day"),
            "bucket",
            "bm",
        )
    )
    return (
        _to_memory(agg, "complete")
        .groupBy("day")
        .agg(F.expr("sum(bitmap_count(bm))").alias("n_users"))
    )


def streaming_embedding_dedup(
    spark: SparkSession,
    emb_path: str,
    corpus: DataFrame,
    threshold: float,
    dim: int,
    delta_max_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 8,
    target_occupancy: int = 32,
) -> DataFrame:
    """STREAMING incremental embedding dedup — the d23 ingest shape as
    a stream: arriving vectors (the delta, ``vec_id < delta_max_id``)
    probe the STATIC corpus's sign-LSH bucket table (stream-static
    equi-join on bucket id, stateless) and candidates verify with the
    exact JVM cosine fold inside the micro-batch. Append mode, memory
    sink, run to completion — the result equals the batch
    ``embedding_lsh_pairs(delta, index_df=corpus)`` bit for bit
    (deterministic hyperplanes, stateless plan), which is what makes
    it oracle-checkable.

    Scale notes: the probe explode carries the vector through the
    stream side (|delta| x tables(1+planes) rows per batch) so no
    stream self-join is needed; multi-table duplicate candidates are
    deduped in the returned batch frame (at scale:
    ``dropDuplicatesWithinWatermark`` keyed on the pair); the static
    bucket/vector frames are computed once and re-read per batch (at
    scale: a materialized bucket table, the d10/d23 index pattern).
    """
    import math

    from ..operators.similarity import (
        _cos_side,
        _pair_cosine,
        sign_lsh_bucket_udf,
    )

    if n_planes is None:
        n = corpus.count()
        n_planes = max(
            3,
            min(24, math.ceil(math.log2(max(n, 2) / target_occupancy)))
            if n > target_occupancy
            else 3,
        )
    base_udf = sign_lsh_bucket_udf(dim, n_planes, n_tables, False)
    probe_udf = sign_lsh_bucket_udf(dim, n_planes, n_tables, True)
    base = corpus.select(
        F.col(id_col).alias("id_b"),
        F.explode(base_udf(F.col(vec_col))).alias("_bkt"),
    )
    cols = {"id_col": id_col, "vec_col": vec_col}
    delta = _stream_parquet(spark, emb_path).filter(F.col(id_col) < delta_max_id)
    probe = _cos_side(
        delta,
        "a",
        F.explode(probe_udf(F.col(vec_col))).alias("_bkt"),
        **cols,
    )
    scored = (
        probe.join(base, "_bkt")
        .join(_cos_side(corpus, "b", **cols), "id_b")
        .select("id_a", "id_b", _pair_cosine().alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    return _to_memory(scored, "append").dropDuplicates(["id_a", "id_b"])


def streaming_growing_lsh_dedup(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 30,
    bands: int = 10,
    threshold: float = 0.5,
    n_files: int = 4,
) -> DataFrame:
    """STREAMING near-dup detection against a SELF-GROWING index — the
    missing tier between st10 (stream probes a STATIC corpus index) and
    d10 (batch delta-vs-corpus): here the stream both probes AND
    maintains the MinHash band table, which is how a live ingest
    pipeline dedups against everything previously ingested without a
    nightly rebuild.

    Per micro-batch (foreachBatch, the st9/st11/st12 machinery):

    1. sign the batch once (:func:`~..operators.dedup.minhash_band_table`),
    2. CROSS pairs: batch bands equi-join the STANDING band table,
       exact-Jaccard-verified against the standing doc store
       (:func:`~..operators.dedup.incremental_lsh_pairs` — corpus text
       is touched only for candidate docs),
    3. INTRA pairs: the batch deduped against itself
       (:func:`~..operators.dedup.minhash_lsh_pairs` on the batch), and
    4. the batch's bands/docs are APPENDED to the standing state
       (eager localCheckpoint per epoch, the d5/g1 idiom — on a real
       cluster these are Delta MERGE/appends and the per-epoch algebra
       is unchanged).

    Every pair {a, b} is found EXACTLY once — at the epoch of its later
    member (cross) or its shared epoch (intra) — so the accumulated
    pair SET is split-invariant and equals the one-shot batch LSH
    result (d3's oracle) bit for bit: band collisions depend only on
    per-doc signatures, never on batch boundaries, and the exact
    verify recomputes the same integer shingle counts either way.
    State is index-sized (bands x 16 B/doc + the doc store), per-epoch
    work is O(batch + collisions) — history is never re-signed.
    """
    from ..operators.dedup import (
        incremental_lsh_pairs,
        minhash_band_table,
        minhash_lsh_pairs,
    )

    src = docs.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.col(text_col).alias(text_col),
    )
    empty_docs = src.filter(F.lit(False))
    state = {
        "pairs": spark.createDataFrame(
            [], "id_a bigint, id_b bigint, jaccard double"
        ),
        "docs": empty_docs,
        "bands": minhash_band_table(
            empty_docs, id_col, text_col, ngram, num_hashes, bands
        ),
    }

    def step(state: dict, batch_df: DataFrame) -> dict:
        batch = lineage_checkpoint(batch_df, eager=True)
        batch_bands = lineage_checkpoint(
            minhash_band_table(batch, id_col, text_col, ngram, num_hashes, bands),
            eager=True,
        )
        cross = incremental_lsh_pairs(
            batch,
            state["docs"],
            id_col,
            text_col,
            ngram,
            num_hashes,
            bands,
            threshold,
            corpus_bands=state["bands"],
        ).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "jaccard",
        )
        intra = minhash_lsh_pairs(
            batch, id_col, text_col, ngram, num_hashes, bands, threshold
        )
        return {
            "pairs": state["pairs"].unionByName(cross).unionByName(intra),
            "docs": state["docs"].unionByName(batch),
            "bands": state["bands"].unionByName(batch_bands),
        }

    return _fold_stream(
        spark, src, n_files, state, step, "streaming_growing_lsh_dedup"
    )["pairs"]


def streaming_substring_index(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 12,
    n_files: int = 4,
) -> DataFrame:
    """STREAMING maintenance of the d31/d33 substring-dedup GRAM INDEX
    — live ingest of the asset the incremental mode persists: each
    micro-batch contributes its positional n-gram partials
    (``dedup._gram_census`` over ``dedup._positional_gram_stream``:
    per-gram count + min-struct keeper) and the state folds them with
    SUM + MIN — two commutative monoids over a key computed one row at
    a time, so the finite-input state is split-invariant and the final
    index equals the one-shot batch aggregation bit for bit, regardless
    of arrival order (the st22 fold contract).

    The index is keyed by the gram's 64-bit hash in state, but EMITTED
    keyed by its keeper occurrence (keep_doc, keep_pos) — exactly one
    n-gram starts at a given (doc, pos), so the keeper is a unique,
    engine-neutral identity the DuckDB oracle can reproduce without
    xxhash64. Only duplicated grams (n_occ >= 2) are emitted: the
    d31 excision manifest for any document is then one join of its
    gram stream against this standing index.

    Streaming honesty: state is O(|distinct grams|) rows — the same
    growth contract as st22's vocabulary state (a production deploy
    ages out singleton grams when the budget demands, exactly the
    hapax note there). Per-epoch work is one map-only gram census of
    the batch + a state-sized merge; history is never re-scanned.

    Returns (keep_doc, keep_pos, n_occ), one row per duplicated gram.
    """
    from ..operators.dedup import _gram_census, _positional_gram_stream

    src = docs.select(
        F.col(id_col).cast("bigint").alias(id_col), F.col(text_col)
    )
    empty = (
        spark.range(0)
        .select(
            F.lit(0).cast("bigint").alias("_gh"),
            F.lit(0).cast("bigint").alias("n_occ"),
            F.struct(
                F.lit(0).cast("bigint").alias("_id"),
                F.lit(0).cast("int").alias("pos"),
            ).alias("_keep"),
        )
        .filter(F.lit(False))
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        partials = _gram_census(
            _positional_gram_stream(batch_df, id_col, text_col, n)
        ).withColumnRenamed("_occ", "n_occ")
        merged = (
            state["idx"]
            .unionByName(partials)
            .groupBy("_gh")
            .agg(
                F.sum("n_occ").cast("bigint").alias("n_occ"),
                F.min("_keep").alias("_keep"),
            )
        )
        return {"idx": merged}

    idx = _fold_stream(
        spark, src, n_files, {"idx": empty}, step, "streaming_substring_index"
    )["idx"]
    return idx.filter(F.col("n_occ") >= 2).select(
        F.col("_keep._id").cast("bigint").alias("keep_doc"),
        F.col("_keep.pos").cast("bigint").alias("keep_pos"),
        F.col("n_occ"),
    )


def streaming_topk_maintenance(
    spark: SparkSession,
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_files: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """STREAMING per-query exact top-k maintenance — continuous k-NN
    serving over an ARRIVING corpus: vectors stream in, each
    micro-batch is scored against the standing broadcast query set
    (the s1 algebra restricted to the batch), and the per-query top-k
    state is refolded as union-then-truncate. Top-k under a total
    order (score DESC, item_id ASC) is an associative, split-invariant
    fold — max-k(A ∪ B) = max-k(max-k(A) ∪ B) — and each row's score
    is the same JVM expression on the same values either way, so the
    final state equals the one-shot batch scan (the s1 oracle) bit
    for bit, regardless of how ingest was micro-batched.

    Per-epoch work is O(batch x Q) scoring plus a (Q x 2k)-row
    truncation; standing state is exactly Q x k rows (eager
    localCheckpoint per epoch, the st9-st13 idiom — on a real cluster
    the state row set lives in the sink table and the per-epoch
    algebra is unchanged). History is never re-scored: this is the
    serving-side companion to st10/st13's index-side maintenance."""
    from pyspark.sql import Window

    from ..operators.similarity import cosine_similarity

    src = items.select(
        F.col(id_col).cast("bigint").alias(id_col), F.col(vec_col)
    )
    q = lineage_checkpoint(
        queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec")),
        eager=True,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("item_id").asc()
    )

    def _truncate(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select(query_id_col, "item_id", "score")
        )

    def step(state: dict, batch_df: DataFrame) -> dict:
        scored = (
            batch_df.select(
                F.col(id_col).alias("item_id"),
                F.col(vec_col).alias("_ivec"),
            )
            .crossJoin(F.broadcast(q))
            .filter(F.col("item_id") != F.col(query_id_col))
            .select(
                query_id_col,
                "item_id",
                cosine_similarity(F.col("_ivec"), F.col("_qvec")).alias("score"),
            )
        )
        return {"topk": _truncate(state["topk"].unionByName(_truncate(scored)))}

    empty = spark.createDataFrame(
        [], f"{query_id_col} bigint, item_id bigint, score double"
    )
    topk = _fold_stream(
        spark, src, n_files, {"topk": empty}, step, "streaming_topk_maintenance"
    )["topk"]
    return topk.withColumn("rank", F.row_number().over(w)).select(
        query_id_col, "item_id", "rank"
    )


def streaming_manifest_maintenance(
    spark: SparkSession,
    rows: DataFrame,
    partition_col: str,
    repr_col: str,
    n_files: int = 4,
) -> DataFrame:
    """STREAMING maintenance of q113's order-invariant partition
    manifest: each micro-batch computes its own (count, hash_sum,
    hash_xor) partials distributed-side, then folds them into the
    running manifest — sum/count by addition, the xor channel by
    ``bit_xor`` (a commutative monoid the generic SUM-only st9
    machinery can't fold, which is exactly why this fold exists).
    All three channels are associative + commutative, so the finite-
    input result is independent of how the feed splits into micro-
    batches and equals the batch manifest bit for bit — the oracle
    recomputes it from the full table. This is how an ingest pipeline
    keeps per-partition integrity checksums current (and diffs them
    against a replica's) without ever rescanning history.

    Same harness as st9/st11/st12: the feed spills to ``n_files``
    parquet files, streams back under ``Trigger.AvailableNow`` with
    ``maxFilesPerTrigger=1`` (so the fold genuinely crosses epochs),
    and the manifest frame is eagerly checkpointed per epoch to keep
    lineage flat. Per-epoch work is O(batch + |manifest|); manifest
    state is O(partitions).
    """
    from ..operators.relational import partition_manifest, wrap_sum_to_i64

    src = rows.select(
        F.col(partition_col).alias("part"), F.col(repr_col).alias("repr")
    )
    empty = (
        spark.range(0)
        .select(
            F.lit("").alias("part"),
            F.lit(0).cast("bigint").alias("n_rows"),
            F.lit(0).cast("bigint").alias("hash_sum"),
            F.lit(0).cast("bigint").alias("hash_xor"),
        )
        .filter(F.lit(False))
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        partials = partition_manifest(batch_df, F.col("part"), F.col("repr"))
        merged = (
            state["mv"]
            .unionByName(partials)
            .groupBy("part")
            .agg(
                F.sum("n_rows").cast("bigint").alias("n_rows"),
                # partials are already mod-2^64-wrapped bigints; an
                # exact decimal re-fold + the same wrap is the batch
                # sum's wrap (mod arithmetic is a homomorphism)
                wrap_sum_to_i64(
                    F.sum(F.col("hash_sum").cast("decimal(38,0)"))
                ).alias("hash_sum"),
                F.bit_xor("hash_xor").alias("hash_xor"),
            )
        )
        return {"mv": merged}

    return _fold_stream(
        spark, src, n_files, {"mv": empty}, step,
        "streaming_manifest_maintenance",
    )["mv"]


def streaming_exact_dedup(
    spark: SparkSession,
    rows: DataFrame,
    id_col: str,
    text_col: str,
    n_files: int = 4,
) -> DataFrame:
    """STREAMING exact deduplication — the ingest-side twin of d1: as
    documents arrive, maintain the per-content-hash dedup manifest
    (keeper = minimum id seen so far, n_copies = copies seen so far).
    Both channels are commutative monoids (MIN and SUM over the md5
    content hash), so the finite-input state is independent of how the
    feed splits into micro-batches and equals the batch group-by bit
    for bit — the oracle recomputes it from the full table. This is
    how a crawl/ingest pipeline keeps "which doc wins, how many copies
    exist" current without rescanning history; the keeper-id-min rule
    is d1's deterministic winner.

    Same harness as st9/st15: the feed spills to ``n_files`` parquet
    files, streams back under ``Trigger.AvailableNow`` with
    ``maxFilesPerTrigger=1`` (the fold genuinely crosses epochs), the
    manifest is eagerly checkpointed per epoch. Per-epoch work is
    O(batch + |manifest|); state is O(distinct contents) — at 100 TB
    the state itself shards by content hash (it is a hash-keyed agg,
    map-side combinable).

    Returns (id_col, n_copies): one row per distinct content, id =
    the keeper.
    """
    src = rows.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.md5(F.col(text_col).cast("binary")).alias("_h"),
    )
    empty = (
        spark.range(0)
        .select(
            F.lit("").alias("_h"),
            F.lit(0).cast("bigint").alias("_id"),
            F.lit(0).cast("bigint").alias("n_copies"),
        )
        .filter(F.lit(False))
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        partials = batch_df.groupBy("_h").agg(
            F.min("_id").alias("_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        merged = (
            state["mv"]
            .unionByName(partials)
            .groupBy("_h")
            .agg(
                F.min("_id").alias("_id"),
                F.sum("n_copies").cast("bigint").alias("n_copies"),
            )
        )
        return {"mv": merged}

    mv = _fold_stream(
        spark, src, n_files, {"mv": empty}, step, "streaming_exact_dedup"
    )["mv"]
    return mv.select(F.col("_id").alias(id_col), "n_copies")


def streaming_band_manifest(
    spark: SparkSession,
    rows: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    n_files: int = 4,
) -> DataFrame:
    """STREAMING maintenance of the banded-MinHash NEAR-DUP manifest —
    st16's exact-dedup fold generalized to the d3 LSH family: as
    documents arrive, each micro-batch signs ONLY its own docs
    (:func:`~..operators.dedup.portable_minhash_bands`) and folds its
    per-(band, band-key) partials — keeper = MIN(doc_id), n_docs =
    SUM(count) — into the running manifest. Both channels are
    commutative monoids over keys computed from one doc at a time, so
    the finite-input state is independent of how the feed splits into
    micro-batches and equals the one-shot batch manifest bit for bit;
    the oracle recomputes the whole manifest from the full table in
    SQL (the portable md5-prefix hashes are what make that possible —
    the xxhash64 production flavor has the same algebra but can only
    be envelope-checked).

    This is how a 100 TB ingest keeps its near-dup index current
    WITHOUT re-signing history: per-epoch work is O(batch grams +
    |manifest touched|), state is O(docs x bands) fixed-width rows
    sharded by (band, band-key) — a hash-keyed agg, map-side
    combinable. A bucket with n_docs >= 2 is a near-dup candidate
    group whose members collide on that band slice; keeper-id-min is
    d1/d3's deterministic winner rule.

    Same harness as st9/st15/st16: the feed spills to ``n_files``
    parquet files, streams back under ``Trigger.AvailableNow`` with
    ``maxFilesPerTrigger=1`` (the fold genuinely crosses epochs), the
    manifest eagerly checkpointed per epoch.

    Returns (band, bkey, keeper_id, n_docs).
    """
    from ..operators.dedup import portable_minhash_bands

    src = rows.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(text_col).alias("_text"),
    )
    empty = (
        spark.range(0)
        .select(
            F.lit(0).cast("int").alias("band"),
            F.lit("").alias("bkey"),
            F.lit(0).cast("bigint").alias("keeper_id"),
            F.lit(0).cast("bigint").alias("n_docs"),
        )
        .filter(F.lit(False))
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        partials = (
            portable_minhash_bands(
                batch_df, "_id", "_text", ngram, num_hashes, bands
            )
            .groupBy("band", "bkey")
            .agg(
                F.min("_id").alias("keeper_id"),
                F.count(F.lit(1)).alias("n_docs"),
            )
        )
        merged = (
            state["mv"]
            .unionByName(partials)
            .groupBy("band", "bkey")
            .agg(
                F.min("keeper_id").alias("keeper_id"),
                F.sum("n_docs").cast("bigint").alias("n_docs"),
            )
        )
        return {"mv": merged}

    return _fold_stream(
        spark, src, n_files, {"mv": empty}, step, "streaming_band_manifest"
    )["mv"]


def streaming_cell_manifest(
    spark: SparkSession,
    rows: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    scale: int = 1000,
    n_files: int = 4,
) -> DataFrame:
    """STREAMING maintenance of the ANN index's CELL-OCCUPANCY manifest
    — the statistic the s18 kNN join and the IVF family derive their
    occupancy-sized geometry from (n_cells = |R| // 64, re-train
    triggers), kept current as embeddings arrive instead of recounted
    from history: each micro-batch assigns ONLY its own vectors to
    engine-portable sign-LSH cells
    (:func:`~..operators.similarity.portable_sign_cells`) and folds
    per-cell partials — n_vecs = SUM(count), min_vec_id = MIN,
    mass_q = SUM(int64 quantized squared norm) — into the running
    manifest. All three channels are commutative monoids over a key
    computed from one vector at a time, so the finite-input state is
    split-invariant and equals the one-shot batch group-by bit for
    bit; the oracle recomputes the whole manifest in SQL (the ±1
    md5-parity planes and the integer grid are what make the cell
    boundary itself cross-engine exact).

    100 TB shape: state is O(2^n_planes) fixed-width rows — a
    hash-keyed agg with map-side combine; per-epoch work is one
    map-only projection of the batch. A cell whose n_vecs outruns the
    occupancy contract is the re-train signal (the s18 lesson made
    incremental).

    Same harness as st16/st17: the feed spills to ``n_files`` parquet
    files, streams back under ``Trigger.AvailableNow`` with
    ``maxFilesPerTrigger=1`` (the fold genuinely crosses epochs), the
    manifest eagerly checkpointed per epoch.

    Returns (cell, n_vecs, min_vec_id, mass_q).
    """
    from ..operators.similarity import portable_sign_cells

    src = rows.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(vec_col).alias("_vec"),
    )
    first = src.select("_vec").first()
    dim = len(first[0]) if first and first[0] is not None else 0
    empty = (
        spark.range(0)
        .select(
            F.lit(0).cast("int").alias("cell"),
            F.lit(0).cast("bigint").alias("n_vecs"),
            F.lit(0).cast("bigint").alias("min_vec_id"),
            F.lit(0).cast("bigint").alias("mass_q"),
        )
        .filter(F.lit(False))
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        partials = (
            portable_sign_cells(batch_df, "_id", "_vec", n_planes, scale, dim=dim)
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                F.min("_id").alias("min_vec_id"),
                F.sum("norm_q").cast("bigint").alias("mass_q"),
            )
        )
        merged = (
            state["mv"]
            .unionByName(partials)
            .groupBy("cell")
            .agg(
                F.sum("n_vecs").cast("bigint").alias("n_vecs"),
                F.min("min_vec_id").alias("min_vec_id"),
                F.sum("mass_q").cast("bigint").alias("mass_q"),
            )
        )
        return {"mv": merged}

    return _fold_stream(
        spark, src, n_files, {"mv": empty}, step, "streaming_cell_manifest"
    )["mv"]


def streaming_histogram(
    spark: SparkSession,
    rows: DataFrame,
    value_col: str,
    n_bins: int,
    lo: int,
    hi: int,
    n_files: int = 4,
) -> DataFrame:
    """STREAMING maintenance of a fixed-width integer histogram — the
    live tier of ``relational.integer_histogram`` (whose bins feed the
    q115 quantile sketch): each micro-batch bins ONLY its own rows and
    folds per-bin partials into the running state — n_rows = SUM,
    min_value = MIN, max_value = MAX, all commutative monoids over a
    key computed from one row at a time, so the finite-input state is
    split-invariant and equals the one-shot batch group-by bit for bit
    (the st16/st17/st18 fold contract; the oracle recomputes the whole
    histogram in SQL).

    Streaming honesty: bounds are FIXED parameters, not data-derived —
    a stream cannot pre-scan min/max, so out-of-range arrivals clamp
    into the edge bins (the integer_histogram clamp), keeping the
    histogram total without re-binning history; a production monitor
    re-bins offline when the edge bins outgrow the contract (the st18
    re-train-signal pattern). State is O(n_bins) fixed-width rows;
    per-epoch work is one map-only projection of the batch.

    Returns (bin, n_rows, min_value, max_value).
    """
    from ..operators.relational import integer_histogram

    src = rows.select(F.col(value_col).cast("bigint").alias("_v"))
    empty = (
        spark.range(0)
        .select(
            F.lit(0).cast("bigint").alias("bin"),
            F.lit(0).cast("bigint").alias("n_rows"),
            F.lit(0).cast("bigint").alias("min_value"),
            F.lit(0).cast("bigint").alias("max_value"),
        )
        .filter(F.lit(False))
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        partials = integer_histogram(batch_df, F.col("_v"), n_bins, lo, hi)
        merged = (
            state["mv"]
            .unionByName(partials)
            .groupBy("bin")
            .agg(
                F.sum("n_rows").cast("bigint").alias("n_rows"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
        )
        return {"mv": merged}

    return _fold_stream(
        spark, src, n_files, {"mv": empty}, step, "streaming_histogram"
    )["mv"]


def streaming_effective_tokens(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    n_files: int = 4,
) -> DataFrame:
    """STREAMING dedup-savings dashboard — the live tier of c15's
    dedup-aware token accounting: as documents arrive, maintain per
    source the raw docs/tokens AND the docs/tokens that survive global
    exact dedup (keeper = min doc_id per identical text, credited to
    the keeper's own source), without ever re-scanning history.

    Two monoid states, both folded per micro-batch:

    1. per-source raw counters — (n_docs, raw_tokens), SUM monoids;
    2. per-content-hash keeper state — argmin over doc id encoded as
       ``MIN(struct(doc_id, source))`` (doc ids are unique, so the
       struct order is total and the MIN commutative/split-invariant
       — a later micro-batch carrying an EARLIER id correctly steals
       keeper status), plus the group's token count (any one value:
       identical text implies identical tokens).

    The report derives at read time: kept docs/tokens per source =
    count/sum of keeper groups whose keeper landed in that source,
    LEFT-joined onto the raw counters so a source whose every doc lost
    to another source still reports (n_kept = 0). State is
    O(sources) + O(distinct contents) — the st16 bound; equals the
    batch c15 report bit for bit (the oracle recomputes it whole).

    Returns (source, n_docs, n_kept, raw_tokens, kept_tokens).
    """
    toks = F.size(_words(F.col(text_col))).cast("bigint")
    src = docs.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(source_col).alias("_src"),
        F.md5(F.col(text_col).cast("binary")).alias("_ch"),
        toks.alias("_t"),
    )
    raw0 = (
        spark.range(0)
        .select(
            F.lit("").alias("_src"),
            F.lit(0).cast("bigint").alias("n_docs"),
            F.lit(0).cast("bigint").alias("raw_tokens"),
        )
        .filter(F.lit(False))
    )
    keep0 = (
        spark.range(0)
        .select(
            F.lit("").alias("_ch"),
            F.struct(
                F.lit(0).cast("bigint").alias("_id"),
                F.lit("").alias("_src"),
            ).alias("_keeper"),
            F.lit(0).cast("bigint").alias("_tok"),
        )
        .filter(F.lit(False))
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        raw_p = batch_df.groupBy("_src").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_t").cast("bigint").alias("raw_tokens"),
        )
        keep_p = batch_df.groupBy("_ch").agg(
            F.min(F.struct("_id", "_src")).alias("_keeper"),
            F.any_value("_t").cast("bigint").alias("_tok"),
        )
        raw = (
            state["raw"]
            .unionByName(raw_p)
            .groupBy("_src")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("raw_tokens").cast("bigint").alias("raw_tokens"),
            )
        )
        keep = (
            state["keep"]
            .unionByName(keep_p)
            .groupBy("_ch")
            .agg(
                F.min("_keeper").alias("_keeper"),
                F.any_value("_tok").alias("_tok"),
            )
        )
        return {"raw": raw, "keep": keep}

    state = _fold_stream(
        spark, src, n_files, {"raw": raw0, "keep": keep0}, step,
        "streaming_effective_tokens",
    )
    kept = (
        state["keep"]
        .groupBy(F.col("_keeper._src").alias("_src"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("_tok").cast("bigint").alias("kept_tokens"),
        )
    )
    return (
        state["raw"]
        .join(kept, "_src", "left")
        .select(
            F.col("_src").alias(source_col),
            "n_docs",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            "raw_tokens",
            F.coalesce("kept_tokens", F.lit(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
    )


def streaming_decontam_census(
    spark: SparkSession,
    train: DataFrame,
    evalset: DataFrame,
    tau_num: int = 7,
    band_den: int = 20,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_files: int = 4,
) -> DataFrame:
    """STREAMING decontamination CENSUS — the eval-side twin of x19: as
    training vectors arrive, fold the per-eval-item leak counter
    (n_hits = how many train vectors so far cross the x19 integer
    cosine band against this eval item). Each micro-batch scores ONLY
    its own rows against the broadcast eval set
    (:func:`~..operators.similarity.semantic_decontam_pairs` — the
    SAME membership kernel x19 uses, so the census and the flags can
    never disagree) and SUMs into the running manifest; eval items
    with zero hits stay present at 0 (the census answers "which
    benchmark items leak MOST", so zero rows are data, not absence).

    SUM over per-row band membership is a commutative monoid, so the
    streamed state is split-invariant and equals the one-shot batch
    group-by bit for bit; the oracle recomputes it whole in HUGEINT.
    State is O(|eval|) rows — tiny by nature — and per-epoch work is
    one map-side scan of the batch: a 100 TB ingest keeps its
    benchmark-leak dashboard current without ever rescanning history.

    Same harness as st16-st18: the feed spills to ``n_files`` parquet
    files, streams back under ``Trigger.AvailableNow`` with
    ``maxFilesPerTrigger=1``, the manifest eagerly checkpointed per
    epoch.

    Returns (eval_id, n_hits).
    """
    from ..operators.similarity import semantic_decontam_pairs

    src = train.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(vec_col).alias("_vec"),
    )
    ev = lineage_checkpoint(  # consumers: every epoch's score pass
        evalset.select(F.col(id_col).cast("bigint").alias(id_col), F.col(vec_col)),
        eager=True,
    )
    zero = ev.select(
        F.col(id_col).alias("eval_id"),
        F.lit(0).cast("bigint").alias("n_hits"),
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        partials = (
            semantic_decontam_pairs(
                batch_df.select(
                    F.col("_id").alias(id_col),
                    F.col("_vec").alias(vec_col),
                ),
                ev,
                tau_num=tau_num,
                band_den=band_den,
                scale=scale,
                id_col=id_col,
                vec_col=vec_col,
            )
            .groupBy("eval_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        )
        merged = (
            state["mv"]
            .unionByName(partials)
            .groupBy("eval_id")
            .agg(F.sum("n_hits").cast("bigint").alias("n_hits"))
        )
        return {"mv": merged}

    return _fold_stream(
        spark, src, n_files, {"mv": zero}, step, "streaming_decontam_census"
    )["mv"]


def streaming_zipf_profile(
    spark: SparkSession,
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    n_files: int = 4,
) -> DataFrame:
    """STREAMING maintenance of the t41 Zipf vocabulary census — the
    live vocabulary-health monitor: each micro-batch contributes its
    own per-(group, token) frequencies (``text.zipf_census``) and the
    running state folds them with SUM — one commutative monoid over a
    key computed from one row at a time, so the finite-input state is
    split-invariant and the profile derived at read time equals the
    one-shot batch :func:`text.zipf_profile` bit for bit (the st20/
    st21 fold contract; the oracle recomputes the whole profile in
    SQL).

    The rank/bucket step (grouped_rank + integer log2) runs ONCE on
    the final census — ranks are NOT mergeable across batches (a
    token's rank depends on every other token's total), which is
    exactly why the state holds raw counters and the profile is a
    read-time derivation (the st21 report-at-read pattern).

    Streaming honesty: state is O(|vocab| x groups) growing rows (the
    st13 growing-index tier's contract — vocabulary growth is
    sublinear in corpus tokens by Heaps' law; a production monitor
    ages out hapax counters when the state budget demands). Per-epoch
    work is one map-only census of the batch + a state-sized merge.

    Returns (``group_col``, rank_bucket, n_types, sum_freq, max_freq,
    min_freq) — the t41 schema.
    """
    from ..operators.text import zipf_census, zipf_profile_from_census

    src = docs.select(F.col(group_col), F.col(text_col))
    empty = (
        spark.range(0)
        .select(
            F.lit("").alias(group_col),
            F.lit("").alias("token"),
            F.lit(0).cast("bigint").alias("freq"),
        )
        .filter(F.lit(False))
    )

    def step(state: dict, batch_df: DataFrame) -> dict:
        merged = (
            state["mv"]
            .unionByName(zipf_census(batch_df, group_col, text_col))
            .groupBy(group_col, "token")
            .agg(F.sum("freq").cast("bigint").alias("freq"))
        )
        return {"mv": merged}

    census = _fold_stream(
        spark, src, n_files, {"mv": empty}, step, "streaming_zipf_profile"
    )["mv"]
    return zipf_profile_from_census(census, group_col)
