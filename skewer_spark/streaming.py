"""Structured Streaming variant of the pipeline (SURVEY.md section 7.8).

The reference is a continuously-running gateway; its streaming semantics
map directly onto Structured Streaming:

- Kafka-consumer source with in-order offset commits
  (/root/reference/services/network/kafka.go:297-325) == the streaming
  offset log + checkpointing: nothing to hand-build.
- The parse/enrich/route stages are the SAME functions as batch (they
  are narrow transformations; the pandas-UDF parse runs unchanged on a
  streaming DataFrame).
- Per-destination fan-out == foreachBatch writing each micro-batch
  through the same status-aware partitioned write.
- Late data: event-time watermark on the parsed ``time_reported`` with
  windowed severity counts.
- Custom stateful operator: per-conversation running state via
  ``applyInPandasWithState`` (turn counts + last turn_idx), the analog
  of the RELP connection's monotonic txnr tracking
  (/root/reference/services/network/relp.go:405-476).

Tests drive this with a file source + availableNow trigger, which is
deterministic and mirrors a bounded backfill run of the streaming job.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from skewer_spark import enrich as enr
from skewer_spark.parsing import parse_transcripts
from skewer_spark.routing import rules as R

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp_ntz"
)


def read_transcript_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    """File-source stream over a transcripts parquet directory (stands in
    for the Kafka source; swap read_kafka_stream on a real deployment)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


# --------------------------------------------------------------- kafka
# The reference's Kafka consumer (services/network/kafka.go:190-370)
# maps onto Spark's kafka source: broker list + subscribed topics from
# config, offsets tracked by the streaming checkpoint instead of the
# hand-rolled in-order commit loop (kafka.go:297-325). The connector
# jar (spark-sql-kafka) is not shipped in this sandbox, so the
# record-decode chain is factored out and unit-tested on batch frames
# of the EXACT kafka record schema; swapping the physical source in is
# the one untestable line (tests pin the documented failure mode).

# the fixed schema every Spark kafka source emits
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def kafka_source_options(
    bootstrap_servers: str, topics: str, starting_offsets: str = "earliest"
) -> dict[str, str]:
    """Source options mirroring the reference's consumer config
    (kafka.go:203-214: brokers, topics, group offsets)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "false",  # the reference logs+continues on gaps
    }


def kafka_records_to_transcripts(records: DataFrame) -> DataFrame:
    """kafka record frame -> TRANSCRIPT_SCHEMA rows: the value payload
    is the JSON transcript envelope; ingest falls back to the broker
    timestamp when the envelope lacks ts (kafka.go:341-352 stamps
    reception metadata). Works identically on a batch frame of
    KAFKA_RECORD_SCHEMA — which is how it is tested without a broker."""
    j = F.from_json(F.col("value").cast("string"), TRANSCRIPT_SCHEMA)
    return records.select(
        j["conv_id"].alias("conv_id"),
        j["turn_idx"].alias("turn_idx"),
        F.coalesce(j["role"], F.lit("")).alias("role"),
        F.coalesce(j["text"], F.lit("")).alias("text"),
        F.coalesce(j["tool"], F.lit("")).alias("tool"),
        F.coalesce(
            j["ts"], F.col("timestamp").cast("timestamp_ntz")
        ).alias("ts"),
    )


def configure_kafka_reader(
    reader,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
):
    """Apply the consumer options to a DataStreamReader (or any
    object with ``.option(k, v)``). Factored out of read_kafka_stream
    so the OPTION FLOW itself is testable in-sandbox: the connector
    jar is absent here, so load() can never build a plan, but a
    recorder stub through this function pins exactly which option
    keys/values the production path sends — an option-name regression
    cannot hide behind the connector skip
    (tests/test_streaming.py::test_kafka_option_flow_without_broker)."""
    for k, v in kafka_source_options(
        bootstrap_servers, topics, starting_offsets
    ).items():
        reader = reader.option(k, v)
    return reader


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """The real Kafka source path: .format('kafka') + the consumer
    options + the shared record-decode chain. Requires the
    spark-sql-kafka connector on the classpath; without it Spark
    raises 'Failed to find data source: kafka' at load() time (the
    sandbox state — pinned by tests/test_streaming.py)."""
    reader = configure_kafka_reader(
        spark.readStream.format("kafka"),
        bootstrap_servers,
        topics,
        starting_offsets,
    )
    return kafka_records_to_transcripts(reader.load())


def routed_stream(stream: DataFrame, spark: SparkSession) -> DataFrame:
    """The batch spine applied to a streaming frame — unchanged code."""
    parsed = R.with_route_status(parse_transcripts(stream))
    return R.route_fanout(enr.enrich(parsed, spark), status_aware=True)


def start_fanout_stream(
    stream: DataFrame,
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """foreachBatch fan-out: every micro-batch goes through the same
    single-pass partitioned write as the batch pipeline."""
    routed = routed_stream(stream, spark)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("append")
            .partitionBy("sink")
            .parquet(os.path.join(out_dir, "sinks"))
        )

    writer = routed.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_severity_counts(
    stream: DataFrame, watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Event-time windowed rollup with late-data watermark (the
    streaming analog of agg_severity)."""
    parsed = R.with_route_status(parse_transcripts(stream))
    events = parsed.withColumn(
        "event_time", F.timestamp_micros(F.col("time_reported"))
    ).withWatermark("event_time", watermark)
    return events.groupBy(
        F.window("event_time", window).alias("w"), "severity"
    ).agg(F.count(F.lit(1)).alias("n"))


# ------------------------------------------- streaming GELF reassembly
# The batch reassembly (wire_formats.reassemble_gelf_chunks) has no
# analog for graylog.go's 5-second chunk-group expiry (:253-257) —
# that's wall-clock state. Here it is: chunk groups accumulate in
# per-msg_id state, emit on completion, and EXPIRE via an event-time
# timeout measured from the group's first chunk, surfaced as
# status='expired' rows (the reference logs-and-drops; surfacing keeps
# the semantics observable/testable).

GELF_CHUNK_STREAM_SCHEMA = (
    "msg_id string, seq_nr int, seq_count int, chunk string, "
    "event_time timestamp"
)
GELF_REASSEMBLY_SCHEMA = StructType(
    [
        StructField("msg_id", StringType()),
        StructField("line", StringType()),
        StructField("status", StringType()),  # ok | expired
    ]
)
_GELF_STATE_SCHEMA = StructType(
    [
        StructField("first_ms", LongType()),
        StructField("total", IntegerType()),
        StructField("seqs", ArrayType(IntegerType())),
        StructField("chunks", ArrayType(StringType())),
    ]
)


def gelf_chunk_reassembly_stream(
    chunks: DataFrame, expiry_ms: int = 5000
) -> DataFrame:
    """Streaming chunked-GELF reassembly (graylog.go:196-306):

    - chunks buffer per msg_id keyed by seq_nr, LAST arrival wins on a
      duplicate (the reference's map write :258-262);
    - completeness = all seq_count distinct seqs present -> emit the
      concatenated line (fromChunks :294-303) and clear state;
    - seq_nr >= seq_count or seq_count > 128 discards the whole group
      (:236-246), and so does a chunk whose seq_count DISAGREES with
      the group's established count (a protocol violation: mixed
      framings would either KeyError on emit or concatenate chunks of
      two different messages); later chunks may start a fresh group,
      as in the reference (delete + continue);
    - a group older than ``expiry_ms`` (measured from its FIRST chunk,
      :253-257) expires via the event-time timeout when the watermark
      passes — state is bounded by in-flight groups, never unbounded.
      A group whose deadline is ALREADY behind the current watermark
      expires inline (the engine rejects a timeout in the past, which
      would otherwise kill the whole query).
    """

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (msg_id,) = key
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                {"msg_id": [msg_id], "line": [""], "status": ["expired"]}
            )
            return
        if state.exists:
            first_ms, total, seqs, chks = state.get
            buf = dict(zip(list(seqs), list(chks)))
        else:
            first_ms, total, buf = None, 0, {}
        out: list[tuple[str, str]] = []  # (line, status)
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                ts_ms = int(pd.Timestamp(r.event_time).timestamp() * 1000)
                if first_ms is None:
                    first_ms = ts_ms
                if (
                    int(r.seq_count) > 128
                    or int(r.seq_nr) >= int(r.seq_count)
                    or (buf and int(r.seq_count) != total)
                ):
                    buf, first_ms, total = {}, None, 0  # delete + continue
                    continue
                total = int(r.seq_count)
                buf[int(r.seq_nr)] = str(r.chunk)
                if len(buf) == total:
                    # keys are exactly 0..total-1: every buffered seq_nr
                    # passed seq_nr < seq_count under a CONSISTENT count
                    # (mismatches discard the group above)
                    out.append(
                        ("".join(buf[i] for i in range(total)), "ok")
                    )
                    buf, first_ms, total = {}, None, 0
        if buf:
            deadline = first_ms + expiry_ms
            wm = state.getCurrentWatermarkMs()
            if deadline <= wm:
                # already past expiry in event time: the engine rejects
                # setTimeoutTimestamp(<= watermark) with a query-fatal
                # error, so expire the group inline instead
                if state.exists:
                    state.remove()
                out.append(("", "expired"))
            else:
                state.update(
                    (first_ms, total, list(buf.keys()), list(buf.values()))
                )
                state.setTimeoutTimestamp(deadline)
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(
                {
                    "msg_id": [msg_id] * len(out),
                    "line": [l for l, _ in out],
                    "status": [st for _, st in out],
                }
            )

    return chunks.groupBy("msg_id").applyInPandasWithState(
        update,
        outputStructType=GELF_REASSEMBLY_SCHEMA,
        stateStructType=_GELF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for a document/turn feed: content-hash the
    text and drop rows whose hash was already seen, across micro-batch
    boundaries, with dedup state bounded by the event-time watermark
    (hashes older than the horizon are evicted). This is the streaming
    twin of the batch dedup_exact op: at ingest time it keeps the first
    copy ever seen inside the horizon, so the batch pass downstream
    only handles near-dups.

    State bounding uses ``dropDuplicatesWithinWatermark`` (Spark 3.5+):
    plain ``dropDuplicates(['text_hash'])`` would IGNORE the watermark —
    Spark only evicts dedup state when the event-time column is part of
    the dedup subset — so its state grows with every distinct hash ever
    seen, exactly the trap this operator exists to avoid at 10^12-row
    scale. ``tests/test_streaming.py::test_dedup_stream_state_eviction``
    pins the eviction behavior (a re-sent hash is dropped inside the
    horizon but re-emitted once the watermark has evicted it)."""
    hashed = stream.withColumn(
        "text_hash", F.md5(F.col(text_col))
    ).withColumn("event_time", F.col(ts_col).cast("timestamp"))
    return hashed.withWatermark(
        "event_time", watermark
    ).dropDuplicatesWithinWatermark(["text_hash"])


def line_dedup_stream_spans(
    stream: DataFrame,
    w: int = 13,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """The surviving-spans stage of ``line_dedup_stream``: explode
    documents into fixed non-overlapping ``w``-word spans and drop any
    span whose md5 was already admitted inside the watermark horizon
    (state = 32-byte digests, bounded by the horizon). Exposed
    separately so the end-state equality test can compare the
    surviving span MULTISET against the batch op's kept spans — the
    doc-level output alone cannot show a span that wrongly survived
    twice across micro-batches.

    Output: (doc_id, event_time, pos, span) — one row per admitted
    span occurrence."""
    wm = stream.withColumn(
        "event_time", F.col(ts_col).cast("timestamp")
    ).withWatermark("event_time", watermark)
    # same guarded span arithmetic as the batch SQL (SEQ1 is total for
    # n <= 0; ANSI mode aborts on a bare sequence(1, 0) lambda index)
    n_spans = f"(size(split(text, ' ')) + {w} - 1) div {w}"
    spans = wm.selectExpr(
        "doc_id",
        "event_time",
        f"explode(slice(sequence(0, greatest({n_spans}, 0)), 2, "
        f"greatest({n_spans}, 0))) AS k",
        "split(text, ' ') AS ws",
    ).selectExpr(
        "doc_id",
        "event_time",
        "cast(k - 1 AS BIGINT) AS pos",
        f"array_join(slice(ws, (k - 1) * {w} + 1, {w}), ' ') AS span",
    )
    return (
        spans.withColumn("h", F.md5("span"))
        .dropDuplicatesWithinWatermark(["h"])
        .drop("h")
    )


def line_dedup_stream(
    stream: DataFrame,
    w: int = 13,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    reassembly_window: str = "1 minute",
) -> DataFrame:
    """Streaming twin of the batch line_dedup op (corpus_ops.
    line_dedup_sql): C4-style corpus-wide span dedup at INGEST time.
    Documents explode into fixed non-overlapping ``w``-word spans; a
    span whose md5 was already seen inside the watermark horizon is
    dropped; each document re-assembles from its surviving spans in
    order and is emitted once the watermark passes its event-time
    window. Two chained stateful operators (Spark 3.5+ supports
    dropDuplicatesWithinWatermark followed by a windowed aggregation
    in append mode); dedup state holds 32-byte digests bounded by the
    horizon, reassembly state is bounded by in-flight windows.

    Documented divergences from the batch op (the same ones every
    watermarked operator carries): "first occurrence" is ARRIVAL
    order, not (doc_id, pos) order — ties inside one micro-batch are
    arbitrary; a duplicate older than the horizon is re-admitted; and
    a document whose every span was already seen produces NO output
    row (the batch op emits it with n_kept = 0) because its spans
    never reach the aggregation.
    tests/test_streaming.py::test_line_dedup_stream_drops_cross_batch
    pins cross-batch span suppression and ordered reassembly."""
    pad = 7
    firsts = line_dedup_stream_spans(
        stream, w=w, ts_col=ts_col, watermark=watermark
    )
    piece = f"lpad(cast(pos AS STRING), {pad}, '0') || '|' || span"
    return (
        firsts.groupBy(F.window("event_time", reassembly_window), "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.expr(
                f"md5(array_join(transform(array_sort("
                f"collect_list({piece})), x -> substr(x, {pad + 2})), ' '))"
            ).alias("clean_md5"),
        )
        .select("doc_id", "n_kept", "clean_md5")
    )


CONV_STATE_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("max_turn_idx", IntegerType()),
        StructField("n_tool_turns", LongType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("n_turns", LongType()),
        StructField("max_turn_idx", IntegerType()),
        StructField("n_tool_turns", LongType()),
    ]
)


def conversation_state_stream(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-conversation counters via
    applyInPandasWithState (turn totals + monotonic max turn_idx)."""

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (conv_id,) = key
        n, mx, ntool = state.get if state.exists else (0, -1, 0)
        for pdf in pdfs:
            n += len(pdf)
            # NULL-safe max, matching the batch twin (F.max skips
            # NULLs; count counts every row): malformed kafka
            # envelopes decode to all-null rows in the conv_id=NULL
            # group, where .max() is NaN and int(NaN) would kill the
            # whole query
            t = pdf["turn_idx"].dropna()
            if len(t):
                mx = max(mx, int(t.max()))
            ntool += int((pdf["role"] == "tool").sum())
        state.update((n, mx, ntool))
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "n_turns": [n],
                "max_turn_idx": [mx],
                "n_tool_turns": [ntool],
            }
        )

    return stream.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=CONV_STATE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------- sessionize
SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("start_us", LongType()),
        StructField("duration_us", LongType()),
    ]
)
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("sess_idx", LongType()),
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        # high-water mark for session_idx allocation: diverges from
        # sess_idx once a LATE (in-watermark, cross-batch) event opens
        # an earlier session and takes a fresh index
        StructField("idx_hwm", LongType()),
    ]
)


def sessionize_stream(
    stream: DataFrame,
    gap_minutes: int = 30,
    keep_index_state: bool = False,
) -> DataFrame:
    """Streaming twin of the batch sessionize op (corpus_ops.
    sessionize_sql): gap-based sessions per user over an event-time
    stream, emitted as each session CLOSES — either because a later
    event of the same user arrives past the gap, or because the
    event-time timeout fires when the watermark passes last_event +
    gap (the open session is flushed and state removed, so state is
    bounded by ACTIVE users, never by history). Output rows match the
    batch op's schema exactly; the equivalence is pinned by
    tests/test_streaming.py::test_sessionize_stream_matches_batch,
    the same oracle-anchoring pattern as conversation_state_stream
    vs conv_rollup.

    Requires ``withWatermark`` on event_time upstream (the test uses
    the standard data / advance / reap micro-batch sequence: timeouts
    fire in the batch AFTER the watermark passes, and the watermark
    itself lags one batch). Late events beyond the watermark are
    dropped by Spark before reaching the kernel — the documented
    streaming-vs-batch semantic difference of every watermarked
    operator.

    Late-but-IN-watermark events arriving in a later micro-batch are
    handled by interval-merging them with the open session: an event
    inside gap range extends the session BACKWARD (min start) or
    forward (max end) — never regressing last-event time or producing
    a negative duration — and an event more than ``gap`` before the
    open session's start closes immediately as its own earlier
    session. Session CONTENTS then still match the batch op; the one
    unavoidable append-mode divergence is ``session_idx`` ordinality
    for such late earlier sessions (they take the next free index in
    ARRIVAL order, while the batch oracle numbers purely by time; a
    session already emitted can never be renumbered). Pinned by
    test_sessionize_stream_late_in_watermark_events.

    Index continuity across evictions: by default the timeout flush
    REMOVES the user's state — bounded by active users — so a user
    who returns after eviction restarts session_idx at 1 (a second
    documented ordinality divergence from the batch oracle, which
    numbers a user's sessions over all history).
    ``keep_index_state=True`` retains a 5-long residue per user (just
    the index high-water mark, no open session, no timeout) so a
    reactivated user continues numbering where it left off — state
    then grows with users EVER seen, the same cost the batch op pays
    to number globally. Pinned by
    test_sessionize_reactivated_user_numbering."""
    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key

        def row(si: int, st: int, la: int, n: int) -> tuple:
            return (int(user_id), si, n, st, la - st)

        if state.hasTimedOut:
            if state.exists:
                si, st, la, n, hwm = state.get
                if keep_index_state:
                    # keep only the index high-water mark (no open
                    # session, no timeout) so a returning user
                    # continues numbering instead of restarting at 1
                    state.update((hwm, -1, -1, 0, hwm))
                else:
                    state.remove()
                if st >= 0:
                    yield pd.DataFrame(
                        [row(si, st, la, n)],
                        columns=SESSION_OUT_SCHEMA.names,
                    )
            return
        si, st, la, n, hwm = (
            state.get if state.exists else (0, -1, -1, 0, 0)
        )
        times: list[int] = []
        for pdf in pdfs:
            times.extend(
                int(pd.Timestamp(t).value) // 1000 for t in pdf["event_time"]
            )
        if not times:
            return
        # interval-merge the new events with the open session so that
        # late-but-in-watermark arrivals extend it in EITHER direction
        # (or close as their own earlier session) instead of regressing
        # last_us / going negative-duration. idx None = needs a fresh
        # index; the old open session keeps its own.
        ivals = [[t, t, 1, None] for t in sorted(times)]
        if st >= 0:
            ivals.append([st, la, n, si])
            ivals.sort(key=lambda v: (v[0], v[1]))
        merged: list[list] = []
        for s, e, c, idx in ivals:
            if merged and s - merged[-1][1] <= gap_us:
                m = merged[-1]
                m[1] = max(m[1], e)
                m[2] += c
                m[3] = m[3] if m[3] is not None else idx
            else:
                merged.append([s, e, c, idx])
        for m in merged:  # time order; fresh state numbers 1..k by time
            if m[3] is None:
                hwm += 1
                m[3] = hwm
        closed = [row(m[3], m[0], m[1], m[2]) for m in merged[:-1]]
        os_, oe, oc, oi = merged[-1]
        state.update((oi, os_, oe, oc, hwm))
        state.setTimeoutTimestamp(oe // 1000 + gap_ms)
        if closed:
            yield pd.DataFrame(closed, columns=SESSION_OUT_SCHEMA.names)

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _stream_instance_id(checkpoint_dir: str) -> str:
    """A stable id for one LIFETIME of a checkpoint directory, stored
    inside it. Structured Streaming's batch_id restarts at 0 whenever
    the checkpoint is recreated, so idempotency must key on
    (checkpoint lifetime, batch_id) — batch_id alone would collide
    with a previous incarnation's run_ids in the committed-unit
    ledger and silently SKIP brand-new data (worse than the duplicate
    delivery the ledger exists to prevent).

    The id becomes visible ATOMICALLY and only fully written: the
    uuid goes to a private temp file (flushed + fsynced), which is
    then hard-linked into place — link fails if a concurrent starter
    won, and both racers read the winner's id; a bare open('x') would
    expose an empty file between create and write, handing a racer
    (or a post-crash restart) the empty id and two different run_ids
    for the same batch — duplicate delivery. A checkpoint that
    PREDATES this id scheme (Spark offsets already present, no id
    file) pins the empty LEGACY id so its in-flight epoch replays
    under the original 'epoch-<batch>' run_id format and still dedups
    against the old ledger entries."""
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, "skewer_stream_id")
    if not os.path.exists(path):
        offsets = os.path.join(checkpoint_dir, "offsets")
        legacy = os.path.isdir(offsets) and bool(os.listdir(offsets))
        sid = "" if legacy else uuid.uuid4().hex[:12]
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(sid)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
        except FileExistsError:
            pass  # a concurrent starter won; use its id
        finally:
            os.unlink(tmp)
    with open(path) as f:
        return f.read().strip()


def start_exactly_once_pipeline_stream(
    stream: DataFrame,
    spark: SparkSession,
    warehouse: str,
    checkpoint_dir: str,
    available_now: bool = True,
    stream_id: str | None = None,
):
    """EXACTLY-ONCE streaming sinks: every micro-batch runs through the
    SAME idempotent batch pipeline (Pipeline.run) with the epoch id as
    its run_id. Structured Streaming guarantees at-least-once
    foreachBatch invocation per epoch; Pipeline.run's committed-unit
    ledger makes the write idempotent per run_id — so a replayed epoch
    (post-crash checkpoint recovery) skips every already-committed
    sink snapshot instead of duplicating rows. This is the streaming
    twin of the reference's store-mediated at-least-once delivery +
    ACK dedup (store/store.go:1060-1095): Spark supplies redelivery,
    the snapshot ledger supplies the dedup. Lineage and per-sink
    IceLite snapshots accrue per epoch exactly like per-run batches —
    resume, replay_dead_letter, compaction and time travel all work
    unchanged on the resulting tables.
    (tests/test_streaming.py::test_exactly_once_stream_replay pins the
    replay no-op.)

    run_ids embed a per-checkpoint-lifetime ``stream_id`` (persisted
    in the checkpoint dir) because batch_id alone restarts at 0 when
    a checkpoint is lost/recreated against the same warehouse — the
    old incarnation's ledger entries would silently swallow the new
    epochs (test_new_checkpoint_same_warehouse_reprocesses). Pass
    ``stream_id`` explicitly when the checkpoint location is not a
    local path (e.g. hdfs:// / s3:// on a real cluster)."""
    from skewer_spark.pipeline import Pipeline

    pipe = Pipeline(spark, warehouse)
    sid = stream_id if stream_id is not None else _stream_instance_id(
        checkpoint_dir
    )
    # empty sid = LEGACY checkpoint (pre-dates the stream-id scheme):
    # keep the original run_id format so a replayed in-flight epoch
    # dedups against its old ledger entries instead of re-committing
    prefix = f"epoch-{sid}-" if sid else "epoch-"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        pipe.run(batch_df, run_id=f"{prefix}{batch_id:08d}")

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bloom_dedup_stream(
    stream: DataFrame,
    spark: SparkSession,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    order_col: str = "doc_id",
    available_now: bool = True,
):
    """Ingest-time dedup with BOUNDED state: a cross-batch Bloom bitmap
    (ops/bloom.py's family) instead of per-key dedup state. The state
    story at 10^12 rows is the point — ``dedup_stream``'s
    dropDuplicatesWithinWatermark holds one state row per distinct hash
    inside the horizon (unbounded for a corpus feed with no natural
    horizon), while this operator's state is BLOOM_M bits FOREVER, at
    the price of routing Bloom false positives to a 'suspect' table for
    exact downstream resolution (e.g. dedup_bloom's broadcast join, or
    dedup_incremental against the committed corpus).

    Per micro-batch: rows whose every probe bit is already set — or
    that are a non-first occurrence of their hash WITHIN the batch
    (first = min ``order_col``, deterministic) — append to
    ``<out_dir>/suspect``; the rest are definitely-new (the filter has
    no false negatives) and append to ``<out_dir>/unique``. Then the
    batch's probe positions are OR-ed into the bitmap and the state is
    persisted atomically (tmp + os.replace) under the checkpoint dir,
    so a restarted stream resumes with the accumulated filter. Replayed
    batches re-set the same bits (idempotent state) but re-append
    output rows — at-least-once, like start_fanout_stream; the
    exactly-once ledger pattern (start_exactly_once_pipeline_stream)
    composes on top where needed.

    Invariants pinned by tests/test_bloom.py, scoped to CLEAN runs
    (no crash-replayed batches — the at-least-once caveat above): the
    unique table never contains two rows with the same text (within
    or across batches), and every true duplicate lands in suspect.
    Under replay the bitmap state stays exact (idempotent bit sets)
    but a batch replayed after a crash between the unique write and
    the bitmap persist re-appends its rows to unique — dedup the
    unique table on read, or compose the exactly-once ledger pattern,
    where byte-exact replays matter."""
    import numpy as np

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.bloom import (
        _probe_expr,
        bloom_member_udf,
        set_positions,
    )

    os.makedirs(checkpoint_dir, exist_ok=True)
    state_path = os.path.join(checkpoint_dir, "bloom_state.npy")
    if os.path.exists(state_path):
        bm = np.load(state_path)
    else:
        bm = np.zeros(C.BLOOM_M // 64, dtype=np.uint64)

    pnames = [f"_p{j}" for j in range(1, C.BLOOM_K + 1)]
    helpers = ("_h", "_maybe_seen", "_first_id", "_suspect", *pnames)
    hit = [c for c in stream.columns if c in helpers]
    if hit:
        raise ValueError(
            f"bloom_dedup_stream: input column(s) {hit} collide with "
            "internal helper names; rename them before starting the "
            "stream"
        )
    # output carries exactly the INPUT columns — never a name-pattern
    # filter, which silently ate user columns that merely shared a
    # helper prefix
    out_cols = list(stream.columns)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        member = bloom_member_udf(spark, bm)
        wide = batch_df.select(
            "*",
            F.md5(F.col(text_col)).alias("_h"),
            *[
                F.expr(_probe_expr(j, text_col)).alias(n)
                for j, n in enumerate(pnames, start=1)
            ],
        ).withColumn("_maybe_seen", member(*[F.col(n) for n in pnames]))
        firsts = wide.groupBy("_h").agg(
            F.min(order_col).alias("_first_id")
        )
        # no broadcast hint: firsts is batch-sized (one row per distinct
        # hash in the batch) — small for a micro-batch, not for a daily
        # bulk batch; AQE picks broadcast when it actually fits
        verdicts = wide.join(firsts, "_h").withColumn(
            "_suspect",
            F.col("_maybe_seen") | (F.col(order_col) > F.col("_first_id")),
        )
        verdicts = verdicts.cache()  # two writes + one driver agg, one pass
        try:
            verdicts.where(~F.col("_suspect")).select(*out_cols).write.mode(
                "append"
            ).parquet(os.path.join(out_dir, "unique"))
            verdicts.where(F.col("_suspect")).select(*out_cols).write.mode(
                "append"
            ).parquet(os.path.join(out_dir, "suspect"))
            # probe positions come from the CACHED verdicts' _p columns
            # — re-deriving them from batch_df would scan and md5 the
            # source a second time per micro-batch
            pos_rows = (
                verdicts.select(
                    F.explode(F.array(*[F.col(n) for n in pnames])).alias(
                        "pos"
                    )
                )
                .distinct()
                .collect()
            )
            set_positions(
                bm, np.array([r["pos"] for r in pos_rows], dtype=np.int64)
            )
        finally:
            verdicts.unpersist()
            # the membership UDF broadcasts the bitmap per batch; a
            # long-running stream must not accumulate one broadcast
            # block per micro-batch until GC happens to collect them
            bc = getattr(member, "_bloom_bc", None)
            if bc is not None:
                bc.unpersist()
        tmp = state_path + f".tmp{batch_id}.npy"  # .npy: np.save appends otherwise
        np.save(tmp, bm)
        os.replace(tmp, state_path)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "engine")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def curation_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    compact_every: int = 64,
):
    """Ingest-time twin of the curation funnel (ops/curation.py):
    quality filter -> normalized dedup -> PII scrub applied to
    documents AS THEY ARRIVE, so the batch finalization (token
    packing over the accumulated survivors) starts from an
    already-curated table instead of re-funneling the day's raw feed.

    Per micro-batch the batch slice runs the SAME kernel funnel as
    ``curate_increment`` (``curation.funnel_over`` — the Arrow/RE2
    quality+normalize+scrub kernel and the min_by dedup aggregate —
    then the frozen-fingerprint exclusion as a left-anti join), with
    the cross-batch dedup state being the
    accumulated FINGERPRINT table under the checkpoint dir: 32-byte
    digests read per batch with a PINNED schema and appended per batch
    (one file per batch) — never executor memory (the
    dropDuplicatesWithinWatermark alternative holds one state row per
    distinct hash in memory with no natural horizon on a corpus feed;
    the Bloom variant ``bloom_dedup_stream`` composes where even the
    digest scan is too much). State reads resolve through Spark's
    filesystem layer, so a remote checkpoint works for the state
    itself; the periodic fps+bounds COMPACTION (every ``compact_every``
    batches: append one coalesced copy, then drop the old files —
    idempotent, because duplicate fingerprints cannot multiply
    survivors, so a crash between the two steps only leaves extra
    rows for the next compaction) deletes via the local filesystem
    and is skipped on non-local paths — run offline compaction there.

    ORDERED-ARRIVAL GUARD: the pinned streaming==batch equality needs
    every batch's doc_ids above all earlier batches' (the append-only
    corpus case, same precondition ``curate_increment`` enforces).
    The max RAW doc_id seen is persisted per batch under
    ``<checkpoint>/bounds`` BEFORE the batch's writes (a crash
    over-refuses, never under-refuses), and an out-of-order batch
    FAILS the query rather than silently diverging. Survivors append
    to ``<out_dir>/curated`` with scrubbed hash, redaction count, and
    token count — the exact ``tok`` schema the packer consumes.
    At-least-once on replay of the OUTPUT rows, like the other
    foreachBatch writers; the exactly-once ledger pattern composes on
    top."""
    from skewer_spark.ops.curation import funnel_over

    fps_dir = os.path.join(checkpoint_dir, "fps")
    bounds_dir = os.path.join(checkpoint_dir, "bounds")
    FPS_SCHEMA = "norm_fp string, doc_id long"

    def _read_state(s: SparkSession, path: str, schema: str) -> DataFrame:
        # ONLY a genuinely-missing path (no committed files yet) maps
        # to empty state; any other analysis-time failure (remote-FS
        # listing error, permissions) must FAIL the batch — an empty
        # corpus_fps on a read error would silently skip cross-batch
        # dedup and commit duplicates as survivors (ADVICE r4 #2)
        from pyspark.errors import AnalysisException

        try:
            return s.read.schema(schema).parquet(path)
        except AnalysisException as e:
            # prefer the stable error condition over message text
            # (which varies across Spark versions / JVM locales); fall
            # back to the legacy pre-error-class message for old Sparks
            if hasattr(e, "getCondition"):
                cls = e.getCondition()
            elif hasattr(e, "getErrorClass"):  # Spark < 4
                cls = e.getErrorClass()
            else:
                cls = None
            if cls == "PATH_NOT_FOUND" or (
                cls is None and "Path does not exist" in str(e)
            ):
                return s.createDataFrame([], schema)
            raise

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        ext = batch_df.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        if ext["lo"] is None:
            return  # empty batch
        bounds = _read_state(s, bounds_dir, "max_raw_id long, batch long")
        # a crash-replayed batch already wrote its bound — recognized
        # by the FULL (batch_id, hi) signature matching — and must
        # pass the guard it itself raised the bar for. Everything
        # that is NOT that exact signature counts toward prior_hi:
        # excluding by batch number alone would let a NEW incarnation
        # (engine checkpoint lost, bounds surviving) reuse batch 0
        # and bypass the guard against the old batch 0's range.
        own_sig = (F.col("batch") == batch_id) & (
            F.col("max_raw_id") == int(ext["hi"])
        )
        row = bounds.agg(
            F.max(F.when(~own_sig, F.col("max_raw_id"))).alias("prior_hi"),
            F.max(F.when(own_sig, F.col("max_raw_id"))).alias("own"),
        ).collect()[0]
        replay = row["own"] is not None
        if not replay and row["prior_hi"] is not None \
                and ext["lo"] <= row["prior_hi"]:
            raise ValueError(
                f"out-of-order batch {batch_id}: min doc_id {ext['lo']} <="
                f" seen bound {row['prior_hi']} — the min-doc_id winner"
                " rule would silently diverge from the batch funnel;"
                " route late slices through curate_increment/run_curation"
            )
        if not replay:
            # bound FIRST (see curation._record_raw_bound: over-refuse
            # on crash, never under-refuse)
            s.createDataFrame(
                [(int(ext["hi"]), int(batch_id))],
                "max_raw_id long, batch long",
            ).coalesce(1).write.mode("append").parquet(bounds_dir)

        corpus_fps = _read_state(s, fps_dir, FPS_SCHEMA).select("norm_fp")
        base = (
            funnel_over(
                batch_df.select("doc_id", "lang", "text"), keep_fp=True
            )
            .join(corpus_fps, on="norm_fp", how="left_anti")
            .select(
                "doc_id", "n_tokens", "n_redactions", "scrubbed_md5",
                "norm_fp",
            )
            .localCheckpoint()  # one funnel execution feeds both writes
        )
        base.drop("norm_fp").write.mode("append").parquet(
            os.path.join(out_dir, "curated")
        )
        base.select("norm_fp", "doc_id").coalesce(1).write.mode(
            "append"
        ).parquet(fps_dir)

        if compact_every and batch_id % compact_every == compact_every - 1:
            # bounds joins the same cycle: it appends one tiny file per
            # micro-batch and is re-listed+scanned EVERY batch by the
            # ordering guard, so left uncompacted its small-file count
            # (and per-batch guard latency) grows without bound on a
            # long-running stream. Compaction preserves rows, so the
            # (batch, hi) replay signatures survive.
            for path, schema in (
                (fps_dir, FPS_SCHEMA),
                (bounds_dir, "max_raw_id long, batch long"),
            ):
                t = _read_state(s, path, schema)
                old = [f for f in t.inputFiles() if f.startswith("file:")]
                if old and len(old) > 1:
                    t.coalesce(1).write.mode("append").parquet(path)
                    for f in old:  # crash here leaves harmless duplicates
                        try:
                            os.remove(f[len("file:"):])
                        except OSError:
                            pass

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "engine")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

def lm_train_model(
    spark: SparkSession,
    ref_docs: DataFrame,
    model_dir: str,
    target_lang: str | None = None,
) -> dict[str, int]:
    """Freeze a reference bigram LM for lm_score_stream: write the
    cb/cu/voc model tables plus the keep-rule constants (fn, fs) —
    CCNet's offline step, where the reference-corpus LM and the
    perplexity cutoff are computed once and shipped to every scoring
    job. Training reuses the batch op's CTE fragments VERBATIM
    (corpus_ops.lm_bg_ctes/lm_model_ctes/lm_score_ctes — the
    cms_pos_macro no-drift discipline), so a doc scores identically
    under the frozen model and under lm_bigram_score_sql run on the
    reference corpus.

    ``target_lang=None`` trains on ALL of ref_docs (the caller already
    curated the reference slice — the production shape); passing a
    lang filters like the batch op's gate config. The filter is
    applied as a DataFrame predicate producing a sentinel marker
    column BEFORE any SQL sees it, so no caller string is ever
    interpolated into SQL. (fn, fs) are the reference corpus's total
    (bigrams, score) — the keep rule `score * fn >= n_bigrams * fs`
    is the batch op's corpus-mean rule with the mean FROZEN at
    reference time, integer-exact. Returns the constants; everything
    is also persisted under ``model_dir``.

    Retrain safety: threshold.json is removed FIRST, so a retrain that
    fails validation (or crashes) can never leave a stale cutoff next
    to fresh model tables — a scorer pointed at the dir fails loudly
    until a train run completes. The bigram explode runs ONCE: bg is
    staged to parquet and the three model dumps + the constants
    aggregate all read the staged frame."""
    import json
    import shutil

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    os.makedirs(model_dir, exist_ok=True)
    thresh_path = os.path.join(model_dir, "threshold.json")
    try:  # invalidate any previous model BEFORE the tables change
        os.remove(thresh_path)
    except FileNotFoundError:
        pass
    # the train-slice membership is decided HERE (DataFrame predicate),
    # and rides into the shared CTEs as a sentinel in the lang column —
    # lm_bg_ctes/`WHERE lang = '...'` then only ever sees the constant
    is_train = (
        F.lit(True)
        if target_lang is None
        else (F.col("lang") == F.lit(target_lang))
    )
    marker = "__train__"
    ref_docs.select(
        "doc_id",
        F.when(is_train, F.lit(marker)).otherwise(F.lit("")).alias("lang"),
        "text",
    ).createOrReplaceTempView("lm_ref_docs")
    staging = os.path.join(model_dir, "_bg_staging")
    try:
        spark.sql(
            to_spark(f"WITH {C.lm_bg_ctes('lm_ref_docs')} SELECT * FROM bg")
        ).write.mode("overwrite").parquet(staging)
        spark.read.parquet(staging).createOrReplaceTempView("lm_ref_bg")
        head = (
            "WITH bg AS (SELECT * FROM lm_ref_bg),\n"
            f"train AS (SELECT w1, w2 FROM bg WHERE lang = '{marker}'),\n"
            f"{C.lm_model_ctes('train')}"
        )
        for t in ("cb", "cu", "voc"):
            spark.sql(to_spark(f"{head}\nSELECT * FROM {t}")).coalesce(
                4
            ).write.mode("overwrite").parquet(os.path.join(model_dir, t))
        row = spark.sql(
            to_spark(
                f"{head},\n{C.lm_score_ctes()}\n"
                "SELECT CAST(sum(n_bigrams) AS BIGINT) AS fn, "
                "CAST(sum(score) AS BIGINT) AS fs FROM score"
            )
        ).collect()[0]
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    consts = {"fn": int(row.fn or 0), "fs": int(row.fs or 0)}
    v = spark.read.parquet(os.path.join(model_dir, "voc")).collect()[0].v
    if v == 0 or consts["fn"] == 0 or consts["fs"] == 0:
        # an empty MODEL (train slice yielded no bigrams — wrong
        # target_lang, empty input), an empty reference frame, OR a
        # model whose every score quantizes to zero (scale too small
        # for the vocab — see the batch op's headroom note) is always
        # a caller bug; freezing it would make the keep rule
        # vacuously true for every doc, silently. Fail at train time —
        # threshold.json was already removed, so a scorer pointed at
        # this model_dir fails too.
        raise ValueError(
            "lm_train_model: degenerate model (vocab="
            f"{v}, scored_bigrams={consts['fn']}, total_score="
            f"{consts['fs']}) — check the target_lang filter, the "
            "input frame, and that LM_SCALE exceeds the vocab size"
        )
    tmp = thresh_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(consts, f)
    os.replace(tmp, thresh_path)
    return consts


def lm_score_stream(
    stream: DataFrame,
    model_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Ingest-time LM quality scoring: every arriving document is
    scored under the FROZEN reference model from ``lm_train_model`` —
    the deployment shape CCNet actually runs (model + cutoff computed
    once offline, applied to every shard of the crawl). Appends
    (doc_id, n_bigrams, score, mean_sp, kept) rows to ``out_dir``.

    Twin contract (test-pinned): streaming the reference corpus itself
    through this operator reproduces the batch op's rows EXACTLY —
    same scores, and the frozen (fn, fs) make `kept` the batch op's
    corpus-mean rule. The batch `bucket` column (a corpus-global
    ntile) has no per-row streaming analog and is deliberately absent;
    rank-dependent selection belongs in a batch pass over the scored
    table.

    Scale shape: the model tables are reference-corpus-sized
    (broadcast), so a micro-batch costs one linear bigram explode, two
    broadcast probes, and one doc_id aggregate — no data-sized
    shuffle, no cross-batch state at all (the model is read-only),
    which is why this twin needs no checkpoint-dir state files unlike
    bloom/curation. Replayed batches re-append their rows —
    at-least-once, the start_fanout_stream caveat; compose the
    exactly-once ledger pattern where byte-exact replays matter.
    Docs with no bigram (empty text / one word) are unscored and
    produce no row, matching the batch op."""
    import json

    from skewer_spark.ops import corpus_ops as C
    from skewer_spark.ops.portable import to_spark

    with open(os.path.join(model_dir, "threshold.json")) as f:
        consts = json.load(f)
    fn, fs = int(consts["fn"]), int(consts["fs"])
    # model CTE names point at the frozen tables; scoring CTEs are the
    # batch op's, verbatim (AQE broadcasts the small model tables —
    # the reference corpus is curated, orders of magnitude smaller
    # than the raw feed)
    sql = to_spark(
        "WITH "
        + C.lm_bg_ctes("lm_stream_batch")
        + ",\ncb AS (SELECT * FROM lm_model_cb),\n"
        "cu AS (SELECT * FROM lm_model_cu),\n"
        "voc AS (SELECT * FROM lm_model_voc),\n"
        + C.lm_score_ctes()
        + f"""
SELECT doc_id, n_bigrams, score,
       IDIV(score * {C.LM_SCALE}, n_bigrams) AS mean_sp,
       {C.lm_keep_rule(str(fn), str(fs))} AS kept
FROM score"""
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands a frame owned by a CLONED session; temp
        # views and the query must live in THAT session, not the outer
        # one (same discipline as curation_stream's state reads)
        s = batch_df.sparkSession
        for t in ("cb", "cu", "voc"):
            s.read.parquet(
                os.path.join(model_dir, t)
            ).createOrReplaceTempView(f"lm_model_{t}")
        batch_df.select("doc_id", "lang", "text").createOrReplaceTempView(
            "lm_stream_batch"
        )
        s.sql(sql).write.mode("append").parquet(
            os.path.join(out_dir, "scored")
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "engine")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
