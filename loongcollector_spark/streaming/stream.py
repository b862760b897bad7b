"""Structured Streaming execution of the same pipeline.

The reference is fundamentally a streaming agent (bounded queues,
timeout flushes, at-least-once retry — SURVEY.md §2.9). This module
runs the IDENTICAL pipeline spec over ``readStream``:

* micro-batches    ⇔ PipelineEventGroup batches
* trigger interval ⇔ TimeoutFlushManager tick
  (core/collection_pipeline/batch/TimeoutFlushManager.*)
* checkpointLocation ⇔ exactly-once queue checkpoints
  (core/checkpoint/RangeCheckpoint.h:27-31)
* watermark + windowed agg ⇔ age-based flush of pending groups
  (FlushStrategy.h:54-56)
* foreachBatch fan-out ⇔ Router → multi-flusher send

Because ``Pipeline.run`` is a pure DataFrame→DataFrame function, the
exact same spec object drives batch and streaming — the property the
reference gets from its shared processor interface
(pkg/pipeline/processor.go:31-39). The ``Pipeline`` is built once,
before the query starts: its steps are bound and each ``dict_map``
dictionary is read then, so a micro-batch only applies the steps and
starts no dimension job. Every batch sees the dictionary snapshot taken
at construction; reloading a dimension means building a new
``Pipeline`` and restarting the query.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import hashing, sqltext
from ..pipeline import Pipeline

__all__ = [
    "read_transcript_stream",
    "stream_pipeline_to_sinks",
    "windowed_sink_counts",
    "session_window_counts",
    "stateful_conv_counter",
    "stateful_rate_limit",
    "stream_dedup_exact",
    "stream_loop_alert",
]


def read_transcript_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream over a transcript parquet directory (the
    batch analog of input_file tailing: new files ⇔ appended log
    chunks; maxFilesPerTrigger ⇔ batch size flush strategy)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def stream_pipeline_to_sinks(
    stream_df: DataFrame,
    pipe: Pipeline,
    base_path: str,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
):
    """Run the pipeline per micro-batch and fan-out-write each batch
    (foreachBatch = Router.Route + flusher send).

    Exactly-once output: foreachBatch alone is at-least-once (a batch
    retried after a mid-write failure would re-append), so each batch
    writes under its own ``__batch_id=<id>`` partition with DYNAMIC
    partition overwrite — a replayed batch id replaces its previous
    partial output instead of duplicating it. Combined with the
    checkpointed source offsets this is the reference's
    at-least-once-retry + idempotent-commit contract
    (core/checkpoint/RangeCheckpoint.h:27-31)."""
    return _write_batches(
        stream_df,
        pipe.run,
        base_path,
        checkpoint_dir,
        partition_by=("sink",),
        available_now=available_now,
    )


def _write_batches(
    stream_df: DataFrame,
    transform,
    base_path: str,
    checkpoint_dir: str,
    *,
    partition_by: tuple[str, ...] = (),
    output_mode: str = "append",
    available_now: bool = True,
):
    """Start the one ``foreachBatch`` writer of the streaming plane:
    each micro-batch's ``transform(batch_df)`` lands as parquet under
    ``{base_path}/__batch_id=<id>/`` (then *partition_by*) with DYNAMIC
    partition overwrite, so a replayed batch id replaces its earlier
    output instead of appending a second copy. ``available_now`` drains
    the backlog and stops; otherwise the query runs until stopped."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            transform(batch_df)
            .withColumn("__batch_id", F.lit(batch_id))
            .write.partitionBy("__batch_id", *partition_by)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(base_path)
        )

    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_sink_counts(
    stream_df: DataFrame,
    pipe: Pipeline,
    *,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked windowed per-sink counts — late rows beyond the
    watermark are dropped, the streaming analog of the age-based flush
    (FlushStrategy.h:54-56). Returns a streaming aggregate DataFrame
    for any sink (memory/parquet/kafka)."""
    routed = pipe.run(stream_df)
    # watermarks require TIMESTAMP (with zone); parquet NTZ casts 1:1
    # under the UTC session timezone
    routed = routed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        routed.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("sink"))
        .agg(F.count("*").alias("cnt"))
        .select("win.start", "win.end", "sink", "cnt")
    )


def session_window_counts(
    stream_df: DataFrame,
    key_cols: list[str],
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming gap-sessionization via Spark's native
    ``session_window`` — the streaming twin of the batch
    ``aggregate.sessionize`` (same gap semantics): events of a key
    whose timestamps are within *gap* of each other merge into one
    session window; the watermark closes sessions once no in-gap event
    can still arrive (the reference's idle-timeout flush,
    FlushStrategy.h:54-56). Emits one row per (key, session) with its
    bounds and event count. Works on batch DataFrames too (same API).
    """
    df = stream_df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if stream_df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("session"),
            *[F.col(k) for k in key_cols],
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            *key_cols,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def stateful_rate_limit(
    stream_df: DataFrame,
    key_cols: list[str],
    rate_per_sec: float,
    burst: int,
    *,
    ts_col: str = "ts",
    out_schema: str | None = None,
) -> DataFrame:
    """True token-bucket rate limiting per key over a stream — the
    exact semantics of the reference's limiter
    (plugins/processor/ratelimit/token_bucket.go:33-61: bucket refills
    at ``rate_per_sec`` up to ``burst``; each emitted event spends one
    token; events with an empty bucket are dropped).

    State per key = (tokens, last_event_ts). Event-time ordered within
    each micro-batch (the reference is arrival-ordered; batch ordering
    by event time is the deterministic analog). applyInPandasWithState
    keeps the bucket across micro-batches.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    in_cols = stream_df.columns
    if out_schema is None:
        out_schema = ", ".join(
            f"{sqltext.quote(f.name)} {f.dataType.simpleString()}"
            for f in stream_df.schema.fields
        )
    state_schema = "tokens double, last_ts double"

    def update(key, pdfs, state: GroupState):
        tokens, last = state.get if state.exists else (float(burst), None)
        out = []
        # concat BEFORE sorting: the group arrives as multiple Arrow
        # chunks in arbitrary post-shuffle order, and a per-chunk sort
        # would feed the bucket out of event-time order for groups
        # larger than arrow.maxRecordsPerBatch (the stream_loop_alert
        # lesson)
        chunks = list(pdfs)
        whole = (
            (pd.concat(chunks) if len(chunks) > 1 else chunks[0])
            if chunks
            else None
        )
        for pdf in ([] if whole is None else [whole]):
            pdf = pdf.sort_values(ts_col, kind="mergesort", na_position="first")
            keep = []
            epoch = pd.Timestamp("1970-01-01")
            for t in pdf[ts_col]:
                # naive-timestamp-safe epoch seconds (Timestamp
                # .timestamp() would interpret naive values in the
                # worker's LOCAL timezone); a NULL ts counts as epoch
                # 0 — as NaN it would poison `last` and the bucket
                # would never refill
                if pd.isna(t):
                    now = 0.0
                elif t.tzinfo is None:
                    now = (t - epoch).total_seconds()
                else:
                    now = t.timestamp()
                if last is not None and now > last:
                    tokens = min(float(burst), tokens + (now - last) * rate_per_sec)
                last = now if last is None or now > last else last
                if tokens >= 1.0:
                    tokens -= 1.0
                    keep.append(True)
                else:
                    keep.append(False)
            out.append(pdf[pd.Series(keep, index=pdf.index)])
        state.update((tokens, last if last is not None else 0.0))
        result = pd.concat(out, ignore_index=True) if out else pd.DataFrame(
            columns=in_cols
        )
        yield result[in_cols]

    return stream_df.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_conv_counter(
    stream_df: DataFrame,
    timeout_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful operator: running per-conversation turn counts
    with idle-timeout emission — applyInPandasWithState, the Spark
    analog of the reference's per-source aggregator state
    (aggregator_context.go:44-62 keeps per-source LogGroups until
    flush; here state is (count, max_turn) per conv_id and a timeout
    plays the timeout-flush tick)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "conv_id string, n_turns long, max_turn_idx long, closed boolean"
    state_schema = "n long, mx long"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, mx = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [n],
                    "max_turn_idx": [mx],
                    "closed": [True],
                }
            )
        else:
            n, mx = state.get if state.exists else (0, -1)
            for pdf in pdfs:
                n += len(pdf)
                if len(pdf):
                    mx = max(mx, int(pdf["turn_idx"].max()))
            state.update((n, mx))
            state.setTimeoutDuration(timeout_ms)
            yield pd.DataFrame(
                {
                    "conv_id": [key[0]],
                    "n_turns": [n],
                    "max_turn_idx": [mx],
                    "closed": [False],
                }
            )

    return (
        stream_df.groupBy("conv_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def stream_dedup_exact(
    stream_df: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    fingerprint_col: str = "__fp",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose normalized-text
    fingerprint was already seen within the watermark horizon —
    the continuous-ingest twin of dedup.dedup_exact for a pipeline
    that curates while it collects.

    State is bounded by the watermark (``dropDuplicatesWithinWatermark``
    evicts fingerprints older than the horizon — Spark 3.5+), and the
    state rows carry only the 32-byte md5, never text. Late rows
    beyond the watermark are treated as new (the documented at-least-
    once tradeoff of bounded dedup state; unbounded exactness is the
    batch operator's job)."""
    from ..operators.dedup import _norm_text

    # watermarks require TIMESTAMP event time; parquet reads the
    # transcript ts as TIMESTAMP_NTZ in Spark 4, so the watermark
    # rides an internal cast column and the source column is untouched
    evt = "__evt_" + ts_col
    with_fp = (
        stream_df.withColumn(evt, F.col(ts_col).cast("timestamp"))
        .withColumn(fingerprint_col, F.md5(_norm_text(F.col(text_col))))
        .withWatermark(evt, watermark)
    )
    return with_fp.dropDuplicatesWithinWatermark([fingerprint_col]).drop(
        fingerprint_col, evt
    )


def stream_sketch_rollup(
    stream_df: DataFrame,
    col: str,
    base_path: str,
    checkpoint_dir: str,
    *,
    width: int = 1024,
    depth: int = 4,
    hash_mode: str = "xxhash64",
    available_now: bool = True,
):
    """Continuously maintained Count-Min sketch over a stream: each
    micro-batch writes ITS OWN sketch (≤ depth·width rows) under a
    ``__batch_id`` partition with dynamic overwrite — the same
    idempotent-replay contract as stream_pipeline_to_sinks, so a
    retried batch replaces rather than double-counts itself. The live
    rollup is :func:`read_sketch_rollup`: union all batch partitions
    and sum cells (the CMS merge law) — a query over at most
    ``batches·depth·width`` rows however large the stream history.
    This is the streaming shape of "top talkers over all time" that a
    windowed aggregate can't hold: state is sketch-sized, not
    key-cardinality-sized.
    """
    from ..operators.sketch import cms_build

    # the sketch is built per micro-batch, after start(): reject an
    # unknown kernel now
    hashing.check(hash_mode)

    return _write_batches(
        stream_df,
        lambda batch_df: cms_build(
            batch_df, col, width=width, depth=depth, hash_mode=hash_mode
        ),
        base_path,
        checkpoint_dir,
        available_now=available_now,
    )


def read_sketch_rollup(spark: SparkSession, base_path: str) -> DataFrame:
    """Merged view of a :func:`stream_sketch_rollup` directory:
    ``(depth, bucket, cnt)`` summed across batch partitions — feed it
    to ``sketch.cms_estimate`` unchanged."""
    return (
        spark.read.parquet(base_path)
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_loop_alert(
    stream_df: DataFrame,
    *,
    loop_threshold: int = 3,
) -> DataFrame:
    """Streaming agent-loop detector — the continuous-ingest twin of
    :func:`..operators.trajectory.agent_loops` for a pipeline that
    watches trajectories WHILE they run instead of after export.

    The step state (tool + masked text template, the agent_loops
    definition) is fingerprinted JVM-side BEFORE the stateful
    operator, so per-conversation state is four longs (last
    fingerprint, current run, max run, step count) and a compare —
    never text in Python. Per micro-batch and conversation the update
    emits ``(conv_id, n_steps, cur_run, max_run, looped)``; ``looped``
    flips true the moment any run reaches *loop_threshold*, batches
    earlier than the loop's completion never see it (the alert
    semantics a monitor wants).

    Ordering contract: rows WITHIN a micro-batch are sorted by
    turn_idx before folding; ACROSS batches the fold consumes arrival
    order, so a run split across out-of-order files may under-count —
    the file source's modification-time ordering (append-only log
    chunks, the input_file model) preserves it. The batch operator is
    the authoritative retrospective twin; parity is pinned in
    test_streaming. Violations are DETECTED, not silently absorbed
    (ADVICE r4): the state tracks the highest turn_idx folded so far
    and ``ooo_regressions`` counts rows that arrived in a later batch
    with a smaller index — a non-zero value tells the monitor this
    conversation's run counts are a lower bound and the batch twin
    should re-derive them.

    Checkpoint compatibility: the state schema is part of the
    checkpoint contract — Structured Streaming validates it on
    restart, so upgrading past a release that changed this operator's
    state layout (e.g. the r5 addition of hi/ooo fields) requires a
    FRESH checkpoint directory; open-run state is rebuilt by replaying
    the input from the new checkpoint's start, or re-derived by the
    batch twin. There is no in-place state migration.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.loganalytics import mask_log_line
    from ..operators.trajectory import _state_fp, _tool_label

    fp = _state_fp(
        _tool_label("tool", "<none>"),
        mask_log_line(F.coalesce(F.col("text"), F.lit(""))),
    )
    skinny = stream_df.select(
        F.col("conv_id"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        fp.alias("__fp"),
    )
    out_schema = (
        "conv_id string, n_steps long, cur_run long, max_run long, "
        "looped boolean, ooo_regressions long"
    )
    state_schema = "last long, run long, mx long, n long, hi long, ooo long"

    def update(key, pdfs, state: GroupState):
        last, run, mx, n, hi, ooo = (
            state.get if state.exists else (None, 0, 0, 0, None, 0)
        )
        # the group arrives as MULTIPLE Arrow chunks (bounded by
        # arrow.maxRecordsPerBatch) in arbitrary post-shuffle order —
        # sorting per chunk would interleave turn ranges and mis-count
        # runs for >chunk-size conversations; concat THEN sort once
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values("turn_idx", kind="mergesort", na_position="first")
            for f, i in zip(pdf["__fp"], pdf["turn_idx"]):
                # NULL turn_idx folds as the smallest index (the batch
                # window's NULLS FIRST), never int(NaN)
                f = int(f)
                i = -(2**63) if pd.isna(i) else int(i)
                # cross-batch order regression: a prior batch already
                # folded a higher turn_idx, so this row is late
                if hi is not None and i < hi:
                    ooo += 1
                if hi is None or i > hi:
                    hi = i
                run = run + 1 if f == last else 1
                last = f
                if run > mx:
                    mx = run
                n += 1
        state.update((last, run, mx, n, hi, ooo))
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_steps": [n],
                "cur_run": [run],
                "max_run": [mx],
                "looped": [mx >= loop_threshold],
                "ooo_regressions": [ooo],
            }
        )

    return skinny.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dialogue_monitor(stream_df: DataFrame) -> DataFrame:
    """Streaming dialogue-structure monitor — the continuous-ingest
    twin of :func:`..operators.trajectory.dialogue_balance` for a
    pipeline that gates conversations WHILE they stream in (a
    malformed dialogue can be quarantined before it ever reaches the
    SFT export, instead of being discovered by the retrospective
    batch audit).

    Per-conversation state is three short role strings + four longs:
    the role at the LOWEST turn_idx seen (first_role — updated if a
    lower index arrives late), the role at the HIGHEST (last_role),
    the previously-folded role (for same-role adjacency), turn count,
    same-role adjacency count, the highest index folded, and the
    out-of-order regression counter. No text ever enters the stateful
    operator — rows are projected to (conv, idx, role) JVM-side.

    Per micro-batch and conversation the update emits ``(conv_id,
    n_turns, n_same_adj, first_role, last_role, well_formed,
    ooo_regressions)``; ``well_formed`` follows the batch definition
    (opens user, closes assistant, zero same-role adjacencies) minus
    the distinct-role count, which is unbounded state and stays a
    batch-only column.

    Ordering contract (the stream_loop_alert convention): within a
    micro-batch rows sort by turn_idx before folding; across batches
    the adjacency fold consumes arrival order, so a same-role pair
    split by out-of-order files may under- or over-count by one —
    ``ooo_regressions`` > 0 flags the conversation for batch
    re-derivation rather than silently absorbing it (ADVICE r4).
    first_role/last_role are index-keyed, not order-keyed, so they
    are EXACT even under reordering.

    NULL roles mirror the batch twin: they never count toward
    same-role adjacency (the lag comparison is NULL for them), they
    surface as NULL boundary roles, and ``well_formed`` follows the
    batch expression's three-valued AND (False terms win; otherwise
    a NULL boundary role yields NULL, not False).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    skinny = stream_df.select(
        F.col("conv_id"),
        F.col("turn_idx").cast("long").alias("turn_idx"),
        # roles stay nullable: the batch twin's lag comparison is NULL
        # (not a match) for NULL roles, and its boundary min_by/max_by
        # surface NULL — coalescing to "" here would count two
        # consecutive NULL-role turns as a same-role adjacency
        F.col("role"),
    )
    out_schema = (
        "conv_id string, n_turns long, n_same_adj long, first_role string, "
        "last_role string, well_formed boolean, ooo_regressions long"
    )
    state_schema = (
        "first string, last string, prev string, n long, same long, "
        "hi long, lo long, ooo long"
    )

    def update(key, pdfs, state: GroupState):
        first, last, prev, n, same, hi, lo, ooo = (
            state.get if state.exists else (None, None, None, 0, 0, None, None, 0)
        )
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values("turn_idx", kind="mergesort", na_position="first")
            started = n > 0
            for r, i in zip(pdf["role"], pdf["turn_idx"]):
                r = None if r is None or pd.isna(r) else str(r)
                # NULLS FIRST, matching the batch window ordering
                i = -(2**63) if pd.isna(i) else int(i)
                if hi is not None and i < hi:
                    ooo += 1
                if hi is None or i > hi:
                    hi = i
                    last = r
                if lo is None or i < lo:
                    lo = i
                    first = r
                # NULL roles never match (the batch lag comparison is
                # NULL for them); `started` separates "no previous
                # turn" from "previous turn had a NULL role"
                if started and prev is not None and r is not None and r == prev:
                    same += 1
                prev = r
                started = True
                n += 1
        state.update((first, last, prev, n, same, hi, lo, ooo))
        # well_formed mirrors the batch twin's three-valued AND:
        # any False term wins over NULL; all-present terms → True
        terms = [
            None if first is None else first == "user",
            None if last is None else last == "assistant",
            same == 0,
        ]
        wf = False if False in terms else (None if None in terms else True)
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [n],
                "n_same_adj": [same],
                "first_role": [first],
                "last_role": [last],
                "well_formed": [wf],
                "ooo_regressions": [ooo],
            }
        )

    return skinny.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
