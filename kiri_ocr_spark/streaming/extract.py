"""Structured Streaming surface (SURVEY.md §2.10).

The reference's "streaming" is generator-based incremental yielding of
per-region / per-char results (/root/reference/kiri_ocr/core.py:795-1026,
model.py:689-1153) — single-threaded lazy pull, no event time. The Spark
analogue is:

- ``stream_extract``: a file-source stream of document rows driven through
  the SAME batch extraction stages (mapInPandas works unchanged in
  streaming) with per-micro-batch assembly in ``foreachBatch``. Each
  micro-batch holds whole documents (file-granular source), so the
  groupBy(doc_id) assembly is complete within a batch — the analogue of
  the reference's ``document_finished`` flag is batch completion.
  Exactly-once at the sink comes from the checkpointLocation + an
  IDEMPOTENT batch write: each micro-batch lands in its own
  ``batch_id=N`` partition via dynamic partition overwrite, so a batch
  replayed after a crash-between-write-and-commit overwrites its own
  partition instead of appending duplicates.

- ``stream_event_windows``: watermark + tumbling event-time window over
  the ``events`` table — the late-data semantics the reference lacks
  (§2.10: "no watermarks, event-time windows, or late-data semantics"),
  included because a 100 TB ingestion pipeline needs them.

At scale: swap the parquet file source for Kafka/Iceberg incremental scan;
everything downstream is identical (the dataflow is source-agnostic).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.text import collapse_whitespace
from ..pipeline import extract_flat

DOCS_SCHEMA = (
    "doc_id long, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _write_batch_idempotent(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """foreachBatch sink with replay idempotence: a micro-batch that dies
    after writing but before the streaming checkpoint commits is replayed
    by Structured Streaming with the SAME batch_id — dynamic partition
    overwrite on ``batch_id=N`` makes the retry replace its own partition,
    never duplicate it (plain mode('append') is at-least-once)."""
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def _file_stream(
    spark: SparkSession, schema: str, path: str, max_files_per_trigger: int
) -> DataFrame:
    """Parquet-directory stream source admitting at most
    ``max_files_per_trigger`` new files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def _start_batch_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool,
    *,
    output_mode: str = "append",
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Start ``stream`` into the replay-idempotent ``foreachBatch`` sink:
    every micro-batch, passed through ``transform`` if given, lands in its
    own ``batch_id=N`` partition of ``out_dir`` (an empty one writes no
    files). The write is the batch's only action, so upstream Python
    stages (stateful folds, the OCR kernel) run once per row."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        _write_batch_idempotent(batch_df, batch_id, out_dir)

    writer = (
        stream.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    docs_path: str,
    media: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 4,
    available_now: bool = True,
    **extract_kwargs,
) -> StreamingQuery:
    """Stream documents from a parquet directory through the full
    detect+recognize pipeline; append flat span rows to ``out_dir``."""
    extract_kwargs.setdefault("broadcast_media", True)
    return _start_batch_sink(
        _file_stream(spark, DOCS_SCHEMA, docs_path, max_files_per_trigger),
        out_dir,
        checkpoint_dir,
        available_now,
        transform=lambda batch_df: extract_flat(batch_df, media, **extract_kwargs),
    )


CUMULATIVE_OUTPUT_SCHEMA = (
    "doc_id long, n_spans int, cumulative_text string, document_finished boolean"
)
CUMULATIVE_STATE_SCHEMA = "offsets array<int>, texts array<string>, total int"


def stream_cumulative_text(
    spark: SparkSession,
    span_rows_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 2,
    available_now: bool = True,
) -> StreamingQuery:
    """Custom stateful operator (applyInPandasWithState): the Spark
    analogue of the reference's streaming cumulative-text fold
    (/root/reference/kiri_ocr/core.py:1028-1102) — as span results arrive
    for a document, keep per-doc state of (offset, text) pairs and emit
    the offset-ordered cumulative text plus the ``document_finished``
    analogue (all expected spans seen; the input carries n_total).

    Input: a parquet directory of extraction span rows
    (doc_id long, offset int, text string, n_total int).
    State is bounded per doc and dropped once finished."""
    import pandas as pd  # noqa: F811

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = "doc_id long, offset int, text string, n_total int"
    stream = _file_stream(spark, schema, span_rows_path, max_files_per_trigger)

    def fold(key, pdfs, state: GroupState):
        offsets: list[int] = []
        texts: list[str] = []
        total = 0
        if state.exists:
            offsets, texts, total = (
                list(state.get[0]),
                list(state.get[1]),
                int(state.get[2]),
            )
        for pdf in pdfs:
            offsets.extend(int(o) for o in pdf["offset"])
            texts.extend("" if t is None else str(t) for t in pdf["text"])
            if len(pdf):
                total = int(pdf["n_total"].iloc[0])
        order = sorted(range(len(offsets)), key=lambda i: offsets[i])
        cumulative = "\n".join(texts[i] for i in order)
        finished = total > 0 and len(offsets) >= total
        if finished:
            state.remove()  # bounded state: drop completed docs
        else:
            state.update((offsets, texts, total))
        yield pd.DataFrame(
            {
                "doc_id": [key[0]],
                "n_spans": [len(offsets)],
                "cumulative_text": [cumulative],
                "document_finished": [finished],
            }
        )

    folded = stream.groupBy("doc_id").applyInPandasWithState(
        fold,
        outputStructType=CUMULATIVE_OUTPUT_SCHEMA,
        stateStructType=CUMULATIVE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    return _start_batch_sink(
        folded, out_dir, checkpoint_dir, available_now, output_mode="update"
    )


TOKEN_OUTPUT_SCHEMA = (
    "doc_id long, region int, step int, token string, text_so_far string, "
    "region_finished boolean, document_finished boolean"
)
TOKEN_STATE_SCHEMA = "n_regions_done int, total int"


def stream_token_decode(
    spark: SparkSession,
    span_rows_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 2,
    available_now: bool = True,
) -> StreamingQuery:
    """M7: per-token streaming emission — the Spark analogue of the
    reference's character-level streaming decode
    (/root/reference/kiri_ocr/model.py:689-780 greedy_ctc_decode_streaming
    + core.py:887-1026 extract_text_stream_chars): as each recognized
    region (span) arrives, emit one row PER TOKEN carrying the cumulative
    region text, the step index, and the ``region_finished`` /
    ``document_finished`` flags of the reference's chunk contract. CTC
    emission is monotone, so rows here are append-only — which is exactly
    what makes them sink-safe at scale; the reference's non-monotone
    beam-retraction variant is ``stream_beam_retraction`` below.

    Input: parquet span rows (doc_id long, offset int, text string,
    n_total int). State per doc is two ints (regions done, total) and is
    dropped the moment the document finishes — bounded regardless of
    document count."""
    import pandas as pd  # noqa: F811

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = "doc_id long, offset int, text string, n_total int"
    stream = _file_stream(spark, schema, span_rows_path, max_files_per_trigger)

    def emit(key, pdfs, state: GroupState):
        n_done, total = (state.get if state.exists else (0, 0))
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("offset")
            for _, r in pdf.iterrows():
                if len(pdf):
                    total = int(r["n_total"])
                text = "" if r["text"] is None else str(r["text"])
                n_done += 1
                doc_done = total > 0 and n_done >= total
                if not text:
                    # empty region: single finished marker row (the
                    # reference yields one empty final chunk, core.py:1021)
                    rows.append(
                        (int(r["offset"]), 0, "", "", True, doc_done)
                    )
                    continue
                so_far = ""
                for step, ch in enumerate(text):
                    so_far += ch
                    last = step == len(text) - 1
                    rows.append(
                        (
                            int(r["offset"]),
                            step,
                            ch,
                            so_far,
                            last,
                            last and doc_done,
                        )
                    )
        if total > 0 and n_done >= total:
            state.remove()  # bounded state: finished docs leave nothing
        else:
            state.update((n_done, total))
        if rows:
            out = pd.DataFrame(
                rows,
                columns=[
                    "region",
                    "step",
                    "token",
                    "text_so_far",
                    "region_finished",
                    "document_finished",
                ],
            )
            out.insert(0, "doc_id", key[0])
            yield out

    tokens = stream.groupBy("doc_id").applyInPandasWithState(
        emit,
        outputStructType=TOKEN_OUTPUT_SCHEMA,
        stateStructType=TOKEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    return _start_batch_sink(tokens, out_dir, checkpoint_dir, available_now)


STEP_EVENT_SCHEMA = (
    "doc_id long, region int, step int, text string, confidence double, "
    "finished boolean"
)
RETRACT_OUTPUT_SCHEMA = (
    "doc_id long, region int, step int, kind string, token string, "
    "text string, confidence double, region_finished boolean"
)
RETRACT_STATE_SCHEMA = "prev_text string, last_step int"


def decode_step_events(df: DataFrame, model_path: str | None = None) -> DataFrame:
    """Best-hypothesis step producer (reference model.py:949-1153
    beam_decode_streaming driven by core.py:887-1026): one row per beam
    step per region carrying the CURRENT best hypothesis text — which may
    change non-monotonically as beams reorder. Input rows are
    (doc_id long, region int, png binary) line images; the decode runs
    the real numpy beam search inside an Arrow-batched kernel with the
    executor-singleton model (M8).

    ``model_path`` routes the stream through TRAINED weights, else the
    seed build. Either way the encode runs in fp32, the dtype of every
    batch line decode (model.decode_crops_memo), so streaming and batch
    decodes of one region agree whichever weights are loaded — the
    reference streams whatever model core.py loaded, never a separate
    one. Tier: text-exact, confidence within 1e-9
    (tests/test_streaming.py::test_step_events_with_trained_weights_match_batch)."""
    return df.mapInPandas(_step_event_batches(model_path), schema=STEP_EVENT_SCHEMA)


def _step_event_batches(model_path: str | None):
    """mapInPandas kernel over (doc_id, region, png) line images ->
    STEP_EVENT_SCHEMA rows; a quarantined region yields no rows."""
    import pandas as pd  # noqa: F811

    def fn(batches):
        from ..operators.detect import resize_keep_ratio_pad
        from ..operators.model import get_model
        from ..operators.page import map_pages

        model = get_model(path=model_path)

        def steps(gray, ink):
            # same P3 preprocessing as the batch decoder kernel
            # (q_model_decode) — streaming and batch decodes of one
            # region must agree (text-exact)
            img = resize_keep_ratio_pad(gray)[None].astype("float32")
            return [
                (ev["step"], ev["text"], ev["confidence"], ev["finished"])
                for ev in model.beam_decode_steps(model.encode(img, fp32=True)[0])
            ]

        for pdf in batches:
            rows = [
                (int(d), int(region), *ev)
                for d, region, events in zip(
                    pdf["doc_id"], pdf["region"], map_pages(pdf["png"], steps)
                )
                for ev in events or ()
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "region", "step", "text", "confidence", "finished",
                ],
            )

    return fn


def stream_beam_retraction(
    spark: SparkSession,
    steps_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """M7 decoder-mode analogue (reference model.py:949-1153 + consumer
    core.py:887-1026): fold a stream of best-hypothesis step rows into an
    append/RETRACT changelog per (doc, region). The reference's streaming
    beam decode can retract emitted text when beams reorder ("may change
    in later steps due to beam search!", model.py:973-976) — the Spark
    analogue keeps the previously-emitted best text in per-(doc, region)
    state and emits:

    - kind='append', token=<new suffix>  when the new best extends it;
    - kind='retract', token='', text=<replacement>  when it does not —
      the event a downstream consumer must REPLACE on, not append.

    Replaying the changelog in (step) order reconstructs the final text
    exactly. State is one string per in-flight region and is dropped the
    moment the region finishes; the sink is replay-idempotent (per-batch
    dynamic partition overwrite), so a retraction lands exactly once even
    across a kill/restart between write and checkpoint commit.

    Delivery contract: a region's step events arrive in step order ACROSS
    micro-batches (the sequential decoder appends them in order — the
    same per-key ordering a Kafka key partition gives); within a batch
    any order is fine, the fold sorts."""
    import pandas as pd  # noqa: F811

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _file_stream(spark, STEP_EVENT_SCHEMA, steps_path, max_files_per_trigger)

    def fold(key, pdfs, state: GroupState):
        prev, last_step = ("", 0)
        if state.exists:
            prev = "" if state.get[0] is None else str(state.get[0])
            last_step = int(state.get[1] or 0)
        rows = []
        done = False
        for pdf in pdfs:
            pdf = pdf.sort_values("step")
            for _, r in pdf.iterrows():
                step = int(r["step"])
                if step <= last_step:
                    # stale / out-of-contract delivery: a step the region
                    # already advanced past must not fabricate a bogus
                    # retract against newer text — drop it
                    continue
                text = "" if r["text"] is None else str(r["text"])
                grew = text.startswith(prev)
                rows.append(
                    (
                        step,
                        "append" if grew else "retract",
                        text[len(prev):] if grew else "",
                        text,
                        float(r["confidence"]),
                        bool(r["finished"]),
                    )
                )
                prev = text
                last_step = step
                done = done or bool(r["finished"])
        if done:
            state.remove()  # bounded state: finished regions leave nothing
        else:
            state.update((prev, last_step))
        if rows:
            out = pd.DataFrame(
                rows,
                columns=[
                    "step", "kind", "token", "text", "confidence",
                    "region_finished",
                ],
            )
            out.insert(0, "region", key[1])
            out.insert(0, "doc_id", key[0])
            yield out

    changelog = stream.groupBy("doc_id", "region").applyInPandasWithState(
        fold,
        outputStructType=RETRACT_OUTPUT_SCHEMA,
        stateStructType=RETRACT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    return _start_batch_sink(changelog, out_dir, checkpoint_dir, available_now)


def stream_dedup_docs(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    watermark_delay: str = "2 hours",
    max_files_per_trigger: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Ingestion-time exact dedup: the streaming front door of the dedup
    family (the batch near-dup passes run downstream). Documents arriving
    more than once within the watermark horizon are emitted exactly once,
    keyed by content fingerprint (xxhash64 of the normalized text) —
    `dropDuplicatesWithinWatermark` keeps state only until the watermark
    passes, so state is bounded by the horizon, not the corpus (the
    property that matters at 10^12 docs; a plain dropDuplicates would
    accumulate every key forever)."""
    schema = "doc_id long, ts timestamp, text string"
    stream = (
        _file_stream(spark, schema, docs_path, max_files_per_trigger)
        .withColumn("fingerprint", F.xxhash64(collapse_whitespace(F.col("text"))))
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )

    return _start_batch_sink(stream, out_dir, checkpoint_dir, available_now)


def stream_event_windows(
    spark: SparkSession,
    events_path: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
    available_now: bool = True,
) -> StreamingQuery:
    """Watermarked tumbling-window aggregation over the events stream:
    per (window, event_type) count + avg(value), append mode (windows emit
    once the watermark passes their end — late rows beyond the delay are
    dropped, bounding state at 100 TB scale)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        .withWatermark("ts", watermark_delay)
    )
    agg = (
        stream.groupBy(F.window("ts", window_duration), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
