"""Structured Streaming layer (SURVEY §2.10 ST4-ST8).

File-source streams over the events schema + the stateful operators that
only exist on streams (watermark drop, within-watermark dedup, custom
state). Tests replay fixture data through these; the batch twins in
batch_twins.py carry the oracle checks.

At scale these run identically: file/Kafka source -> watermarked event-time
aggs with state-store-backed incremental execution; output to partitioned
sinks. Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from paraslice_spark.functions.canon import md5_u32_sql
from paraslice_spark.memo import memo
from paraslice_spark.pyworker import by_ref
from paraslice_spark.registry import query

#: events schema with ts as raw ns-epoch longs (synthetic replay batches and
#: the Kafka JSON payloads are written in this shape)
EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)


def events_file_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """readStream over a directory of events-schema parquet files.

    One file per micro-batch (deterministic replay order for late-data
    tests). readStream needs a fixed schema up front, but events dirs exist
    in two on-disk shapes (raw ns longs from synthetic replay writers; µs
    timestamp_ntz from this environment's fixture parquet) — so probe the
    footer with a batch read first, then apply the batch loader's repair so
    stream and batch twins see byte-identical ts/ts_ns. Declaring `ts long`
    over a µs-INT64 timestamp column silently reads the raw µs ints and the
    ns→µs repair lands in 1970 (round-4 regression, fixed here).
    """
    from paraslice_spark.sources.io import _repair_events

    from pyspark.errors import AnalysisException

    try:
        probe = dict(spark.read.parquet(directory).dtypes).get("ts", "long")
    except AnalysisException as ex:
        # Only the empty / not-yet-created dir is the benign case where the
        # start-stream-before-first-file pattern must still work (ADVICE
        # r4): fall back to the raw ns-long shape the replay writers emit.
        # Anything else (corrupt footer, permissions, …) must stay LOUD —
        # swallowing it would resurface later as a confusing streaming
        # schema mismatch (ADVICE r5).
        cond = ex.getCondition() if hasattr(ex, "getCondition") else None
        if cond not in ("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND"):
            raise
        probe = "long"
    ts_decl = probe if probe in ("timestamp_ntz", "timestamp") else "long"
    schema = (
        f"event_id long, ts {ts_decl}, user_id long, "
        "event_type string, value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )
    return _repair_events(raw)


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> StreamingQuery:
    """writeStream to an in-memory table (ST8) and process everything
    currently available. Caller reads ``spark.table(name)``."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def watermarked_sessions(
    events: DataFrame,
    watermark: str = "10 minutes",
    gap: str = "30 minutes",
) -> DataFrame:
    """ST3 × ST4: watermarked SESSION windows — gap-merged state-store
    sessions where append mode emits a session once the watermark passes
    its end, and a late row whose candidate window end is behind the
    watermark drops instead of extending/merging.  The streaming twin of
    the declared events_session_watermark_audit rule; the audit's
    "merge-rescue not modeled" caveat is pinned executable in
    tests/test_streaming.py (same-micro-batch coalescing rescues a row
    the per-event-watermark batch model counts as dropped)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def watermarked_tumbling(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """ST4: watermarked per-hour counts — append mode emits a window only
    once the watermark passes its end; later-than-watermark rows drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("hour_start"), "n_events")
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST5: exactly-once by event_id with bounded state (state for ids older
    than the watermark is evicted — the 100 TB-safe dedup)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """ST7: stream ⋈ static dim — the dim is re-read per micro-batch; at
    scale broadcast it (tiny) so the stream never shuffles."""
    dim = F.broadcast(customer.select("c_custkey", "c_nationkey"))
    return events.join(dim, events.user_id == dim.c_custkey, "inner").select(
        "event_id", "user_id", "event_type", "c_nationkey"
    )


#: as-of lookback used by both the streaming op and its batch twin
ASOF_LOOKBACK_US = 3_600_000_000  # 1 hour


def stream_asof_join(
    tagged: DataFrame,
    lookback_us: int = ASOF_LOOKBACK_US,
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST9 (VERDICT r01 #7): stream-stream AS-OF join.

    ``tagged`` is the union of two event streams with columns
    ``(user_id long, ts timestamp, id long, is_left int)`` — left rows
    (is_left=1, e.g. purchases) each match the LATEST right row
    (is_left=0, e.g. clicks) with ``r.ts <= l.ts`` and
    ``r.ts >= l.ts - lookback``; no match emits NULL (left-outer).

    Spark's native stream-stream joins do interval containment, not
    "latest within interval", so this is a custom stateful operator:
    one shuffle on the key into ``applyInPandasWithState``.  A left row
    is emitted only once the event-time watermark passes its timestamp —
    at that point every on-time right row at-or-before it has been seen,
    so the result equals the batch as-of on the on-time data.  State per
    key is bounded: pending lefts newer than the watermark + right
    history inside ``[watermark - lookback, ∞)``; everything older is
    pruned each batch.  ``EventTimeTimeout`` revisits a key when the
    watermark passes its oldest pending left even if no new rows arrive,
    so results drain without requiring further traffic on that key.

    At 100 TB this is the scale-honest shape: state ∝ traffic inside one
    watermark+lookback horizon per key, emission is append-mode and
    incremental, nothing driver-side.
    """
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    lookback_ms = lookback_us // 1000

    def update(key, pdf_iter, state: GroupState):
        lts, lid, rts, rid = (
            [list(c) for c in state.get] if state.exists else ([], [], [], [])
        )
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            us = (
                pd.to_datetime(pdf["ts"])
                .astype("datetime64[us]")
                .astype("int64")
                .to_numpy()
            )
            left = pdf["is_left"].to_numpy() == 1
            ids = pdf["id"].to_numpy()
            # .tolist() -> plain Python ints: state rows round-trip through
            # the JVM pickler, which rejects numpy scalars
            lts += us[left].tolist()
            lid += ids[left].tolist()
            rts += us[~left].tolist()
            rid += ids[~left].tolist()

        wm_us = state.getCurrentWatermarkMs() * 1000
        # right history sorted once per batch; emission scans it per left
        order = sorted(range(len(rts)), key=rts.__getitem__)
        rts = [rts[o] for o in order]
        rid = [rid[o] for o in order]

        out_p, out_u, out_c, pend_ts, pend_id = [], [], [], [], []
        import bisect

        for t, i in zip(lts, lid):
            if t > wm_us:
                pend_ts.append(t)
                pend_id.append(i)
                continue
            # latest right with rts <= t (ties: right at left's instant counts)
            pos = bisect.bisect_right(rts, t) - 1
            match = rid[pos] if pos >= 0 and rts[pos] >= t - lookback_us else None
            out_p.append(i)
            out_u.append(key[0])
            out_c.append(match)

        # prune right history no pending-or-future left can reach
        cut = bisect.bisect_left(rts, wm_us - lookback_us)
        rts, rid = rts[cut:], rid[cut:]

        if pend_ts:
            state.update((pend_ts, pend_id, rts, rid))
            # revisit when the watermark passes the oldest pending left
            state.setTimeoutTimestamp(
                max(min(pend_ts) // 1000 + 1, state.getCurrentWatermarkMs() + 1)
            )
        elif rts:
            state.update(([], [], rts, rid))
            # GC horizon: right rows expire once unreachable by any future left
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + lookback_ms + 1)
        else:
            state.remove()

        if out_p:
            yield pd.DataFrame(
                {"purchase_id": out_p, "user_id": out_u, "click_id": out_c}
            )

    return (
        tagged.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            by_ref(update),
            outputStructType="purchase_id long, user_id long, click_id long",
            stateStructType=(
                "lts array<long>, lid array<long>, rts array<long>, rid array<long>"
            ),
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_asof_join_tws(
    tagged: DataFrame,
    lookback_us: int = ASOF_LOOKBACK_US,
    watermark: str = "10 minutes",
) -> DataFrame:
    """ST9 twin on the Spark 4 state-v2 API (``transformWithStateInPandas``).

    Same semantics and state bounds as :func:`stream_asof_join` (latest
    right row within ``[l.ts - lookback, l.ts]`` per matured left; append
    once the watermark passes the left's timestamp), re-expressed on the
    ``StatefulProcessor`` API: the pending-left and right-history buffers
    become typed ``ListState`` columns (RocksDB-backed — state no longer
    round-trips through one pickled blob, and each can be appended without
    rewriting the other), and the drain-without-traffic path is an explicit
    event-time timer instead of ``EventTimeTimeout``.  Requires the RocksDB
    state store provider (state-v2 contract; tests set it).

    Container caveat (same class as the Kafka source): Spark's
    transform_with_state_driver_worker hard-imports ``google.protobuf``,
    which this container does not ship, so the operator cannot EXECUTE
    here — plan construction is tested unconditionally and the replay
    equivalence test (vs the v1 operator's batch twin) runs wherever
    protobuf is installed (tests/test_streaming.py gates on importorskip).
    """
    import bisect

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )

    lookback_ms = lookback_us // 1000

    class AsofProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._pending = handle.getListState("pending", "ts long, id long")
            self._rights = handle.getListState("rights", "ts long, id long")

        def _drain(self, key, wm_us, new_left, new_right):
            """Merge new rows into state, emit matured lefts, prune, re-arm
            the timer. Shared by the input and timer paths."""
            lts, lid = [], []
            for t, i in self._pending.get():
                lts.append(t)
                lid.append(i)
            rts, rid = [], []
            for t, i in self._rights.get():
                rts.append(t)
                rid.append(i)
            lts += new_left[0]
            lid += new_left[1]
            rts += new_right[0]
            rid += new_right[1]
            order = sorted(range(len(rts)), key=rts.__getitem__)
            rts = [rts[o] for o in order]
            rid = [rid[o] for o in order]

            out_p, out_u, out_c, pend_ts, pend_id = [], [], [], [], []
            for t, i in zip(lts, lid):
                if t > wm_us:
                    pend_ts.append(t)
                    pend_id.append(i)
                    continue
                pos = bisect.bisect_right(rts, t) - 1
                match = rid[pos] if pos >= 0 and rts[pos] >= t - lookback_us else None
                out_p.append(i)
                out_u.append(key[0])
                out_c.append(match)

            cut = bisect.bisect_left(rts, wm_us - lookback_us)
            rts, rid = rts[cut:], rid[cut:]

            self._pending.clear()
            if pend_ts:
                self._pending.appendList(list(zip(pend_ts, pend_id)))
            self._rights.clear()
            if rts:
                self._rights.appendList(list(zip(rts, rid)))

            # one live timer per key: re-arm at the next horizon
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            wm_ms = wm_us // 1000
            if pend_ts:
                self._handle.registerTimer(max(min(pend_ts) // 1000 + 1, wm_ms + 1))
            elif rts:
                self._handle.registerTimer(wm_ms + lookback_ms + 1)

            if out_p:
                yield pd.DataFrame(
                    {"purchase_id": out_p, "user_id": out_u, "click_id": out_c}
                )

        def handleInputRows(self, key, rows, timerValues: TimerValues):
            lts, lid, rts, rid = [], [], [], []
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                us = (
                    pd.to_datetime(pdf["ts"])
                    .astype("datetime64[us]")
                    .astype("int64")
                    .to_numpy()
                )
                left = pdf["is_left"].to_numpy() == 1
                ids = pdf["id"].to_numpy()
                lts += us[left].tolist()
                lid += ids[left].tolist()
                rts += us[~left].tolist()
                rid += ids[~left].tolist()
            wm_us = timerValues.getCurrentWatermarkInMs() * 1000
            yield from self._drain(key, wm_us, (lts, lid), (rts, rid))

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):
            wm_us = timerValues.getCurrentWatermarkInMs() * 1000
            yield from self._drain(key, wm_us, ([], []), ([], []))

        def close(self) -> None:
            pass

    return (
        tagged.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            AsofProcessor(),
            outputStructType="purchase_id long, user_id long, click_id long",
            outputMode="append",
            timeMode="eventTime",
        )
    )


def tag_asof_streams(left: DataFrame, right: DataFrame) -> DataFrame:
    """Union-tag two ``(user_id, ts, event_id)`` streams for
    :func:`stream_asof_join` (left=1 rows are the probe side)."""
    l = left.select("user_id", "ts", F.col("event_id").alias("id"), F.lit(1).alias("is_left"))
    r = right.select("user_id", "ts", F.col("event_id").alias("id"), F.lit(0).alias("is_left"))
    return l.unionByName(r)


def running_count_per_user(events: DataFrame) -> DataFrame:
    """ST6: custom stateful op — running per-user event counter via
    applyInPandasWithState (GroupState with processing-time timeout).

    Each micro-batch updates O(#users) state; emits (user_id, total so far).
    """
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        by_ref(update),
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def documents_file_stream(spark: SparkSession, directory: str, max_files_per_trigger: int = 1) -> DataFrame:
    """readStream over a directory of documents-schema parquet files (the
    corpus-ingest shape: new crawl shards land as files)."""
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(directory)
    )


def stream_dedup_incremental(docs: DataFrame) -> DataFrame:
    """INCREMENTAL exact dedup on the vocabulary fingerprint — the streaming
    member of the dedup family: as corpus shards arrive, emit each distinct
    fp_shingle's FIRST document once and suppress every later duplicate,
    without ever rescanning history.

    applyInPandasWithState keyed by fp_shingle; state = one long (the kept
    doc_id) per distinct fingerprint ever seen — the streaming analogue of
    the dedup key shuffle, bounded by |distinct docs| not |stream|.  Within
    a micro-batch the minimum doc_id wins (deterministic regardless of
    partition order — plain dropDuplicates would keep an arbitrary row),
    so replaying shards in doc_id order reproduces the batch twin
    ``dedup_incremental_fp`` exactly (asserted in tests/test_streaming.py).
    At 100 TB the state store is fp-hash partitioned by the groupBy, same
    layout as the batch shuffle."""
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from paraslice_spark.operators.text import fp_shingle_col

    def update(key, pdf_iter, state: GroupState):
        if state.exists:  # fingerprint already kept in an earlier batch
            for _ in pdf_iter:
                pass
            return
        best = None
        for pdf in pdf_iter:
            m = int(pdf["doc_id"].min())
            best = m if best is None else min(best, m)
        state.update((best,))
        yield pd.DataFrame({"doc_id": [best], "fp_shingle": [key[0]]})

    keyed = docs.select(fp_shingle_col().alias("fp_shingle"), "doc_id")
    return keyed.groupBy("fp_shingle").applyInPandasWithState(
        by_ref(update),
        outputStructType="doc_id long, fp_shingle string",
        stateStructType="kept long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_retention(events: DataFrame) -> DataFrame:
    """Streaming COHORT RETENTION — the stateful twin of the batch
    ``events_retention`` query: as events arrive, emit each user's newly
    reached (cohort_day, day_offset ∈ 0..7) cells exactly once.

    applyInPandasWithState keyed by user_id; state = (cohort_day, an
    8-bit mask of offsets already emitted) — two longs per user, bounded
    by the user population.  The cohort day latches on first sight
    (append-only, like stream_sessionize): replaying shards in event-time
    order reproduces the batch MIN-day cohort exactly, so
    SUM-over-emissions == the batch (cohort_day, day_offset, users) table
    (asserted whole-fixture and split in tests/test_streaming.py).  A
    late event from before the latched cohort day extends nothing —
    history is never rewritten."""
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    day_ns = 86_400_000_000_000

    def update(key, pdf_iter, state: GroupState):
        cohort, mask = state.get if state.exists else (None, 0)
        days = set()
        for pdf in pdf_iter:  # order-insensitive: set of days, min latch
            days.update(int(d) for d in (pdf["ts_ns"] // day_ns).unique())
        if not days:
            return
        if cohort is None:
            cohort = min(days)
        out = []
        for d in sorted(days):
            off = d - cohort
            if 0 <= off <= 7 and not (mask >> off) & 1:
                mask |= 1 << off
                out.append((key[0], cohort, off))
        state.update((cohort, mask))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "cohort_day", "day_offset"]
            )

    keyed = events.select("user_id", "ts_ns")
    return keyed.groupBy("user_id").applyInPandasWithState(
        by_ref(update),
        outputStructType="user_id long, cohort_day long, day_offset long",
        stateStructType="cohort long, mask long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cumulative_distinct(events: DataFrame) -> DataFrame:
    """Streaming RUNNING DISTINCT COUNT — the stateful twin of the batch
    ``window_cumulative_distinct`` query: each event labeled with how many
    distinct event types its user has touched so far.

    State per user = the set of seen types, packed as one sorted
    \\x1f-joined string (bounded by type cardinality, not event count —
    the same reason the batch twin uses first-occurrence flags instead of
    collect_set frames).  Chunks are concatenated before the time sort
    (the r6 chunk-order rule), so replaying shards in event-time order
    reproduces the batch labels exactly (tests/test_streaming.py, whole
    and split replays)."""
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        (packed,) = state.get if state.exists else ("",)
        seen = set(packed.split("\x1f")) - {""}
        out = []
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_ns", "event_id"]
            )
            for eid, et in zip(pdf["event_id"], pdf["event_type"]):
                seen.add(et)
                out.append((int(eid), key[0], len(seen)))
        state.update(("\x1f".join(sorted(seen)),))
        yield pd.DataFrame(out, columns=["event_id", "user_id", "n_distinct_types"])

    keyed = events.select("user_id", "ts_ns", "event_id", "event_type")
    return keyed.groupBy("user_id").applyInPandasWithState(
        by_ref(update),
        outputStructType="event_id long, user_id long, n_distinct_types long",
        stateStructType="seen string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_sessionize(events: DataFrame, gap_ns: int = 1_800_000_000_000) -> DataFrame:
    """Streaming SESSIONIZATION: assign each event its per-user session
    ordinal incrementally — the stateful twin of the batch
    ``events_sessionize`` query (same >gap_ns-silence rule).

    State per user = (last event ts, current session ordinal).  Each
    micro-batch sorts its per-user rows by (ts_ns, event_id) and continues
    from state, so replaying batches in event-time order reproduces the
    batch assignment exactly (tests/test_streaming.py asserts equality on
    whole-fixture AND split replays).  State is two longs per user —
    bounded by the user population, not the event count.  Late events
    (ts before state's last ts) extend the current session rather than
    rewriting history: assignment is append-only, the property a
    training-example labeler needs."""
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        last_ts, idx = state.get if state.exists else (None, 0)
        out = []
        # Concatenate BEFORE sorting: applyInPandasWithState splits a
        # user's micro-batch rows into ~10k-row Arrow chunks, and a
        # per-chunk sort would advance the state machine out of global
        # time order whenever a user spans chunks (ADVICE r5).  Per-user
        # micro-batch volume is bounded, so one concat is safe.
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_ns", "event_id"]
            )
            for eid, ts in zip(pdf["event_id"], pdf["ts_ns"]):
                if last_ts is None or ts - last_ts > gap_ns:
                    idx += 1
                last_ts = max(ts, last_ts) if last_ts is not None else ts
                out.append((eid, key[0], idx))
        state.update((last_ts if last_ts is not None else 0, idx))
        yield pd.DataFrame(out, columns=["event_id", "user_id", "session_idx"])

    return events.groupBy("user_id").applyInPandasWithState(
        by_ref(update),
        outputStructType="event_id long, user_id long, session_idx long",
        stateStructType="last_ts long, idx long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_funnel(events: DataFrame) -> DataFrame:
    """Streaming per-user FUNNEL STATE MACHINE — the stateful twin of the
    batch ``events_funnel_users`` query: first view, first strictly-later
    click, first strictly-later purchase, tracked incrementally.

    applyInPandasWithState keyed by user_id; state = three ts_ns longs
    (0 = not reached).  Each micro-batch sorts its per-user rows by
    (ts_ns, event_id) and advances the machine, so replaying batches in
    event-time order reproduces the batch MIN-based assignment exactly
    (first qualifying event in time order IS the qualifying minimum).
    Stage transitions are append-only: timestamps never rewrite once set —
    the monotonicity a downstream labeler needs.  Emits the user's current
    (t_view, t_click, t_purchase, stage) each batch (update semantics:
    latest emission per user is the state)."""
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        tv, tc, tp = state.get if state.exists else (0, 0, 0)
        # Concatenate BEFORE sorting (ADVICE r5): per-chunk sorts would let
        # t_view/t_click/t_purchase latch onto non-minimum events whenever a
        # user's micro-batch rows span multiple Arrow chunks, breaking the
        # documented replay-equality with events_funnel_users.
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_ns", "event_id"]
            )
            for et, ts in zip(pdf["event_type"], pdf["ts_ns"]):
                ts = int(ts)
                if et == "view" and tv == 0:
                    tv = ts
                elif et == "click" and tv != 0 and tc == 0 and ts > tv:
                    tc = ts
                elif et == "purchase" and tc != 0 and tp == 0 and ts > tc:
                    tp = ts
        state.update((tv, tc, tp))
        if tv != 0:
            stage = 1 + (tc != 0) + (tp != 0)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "t_view": [tv],
                    "t_click": [tc if tc else None],
                    "t_purchase": [tp if tp else None],
                    "stage": [stage],
                }
            )

    keyed = events.select("user_id", "ts_ns", "event_id", "event_type")
    return keyed.groupBy("user_id").applyInPandasWithState(
        by_ref(update),
        outputStructType=(
            "user_id long, t_view long, t_click long, t_purchase long, stage int"
        ),
        stateStructType="tv long, tc long, tp long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Kafka source (VERDICT r01 #8) — wired, container-untestable end-to-end
# --------------------------------------------------------------------------
#
# The container ships neither a broker nor the spark-sql-kafka connector
# jar, so ``kafka_events_stream`` cannot run here; the value-parsing stage
# is factored out as :func:`parse_kafka_events` and tested on a batch
# DataFrame with kafka-shaped columns (tests/test_streaming.py) — the
# connector handoff is the only untested seam, and it is one `.load()`.

#: JSON payload schema expected in the kafka record value (ts is the raw
#: ns-epoch long, exactly like the parquet fixtures before repair)
KAFKA_EVENTS_JSON_SCHEMA = EVENTS_RAW_SCHEMA


def parse_kafka_events(kafka_df: DataFrame) -> DataFrame:
    """Kafka records -> events rows, same ts repair as the file sources.

    ``kafka_df`` has the connector's fixed schema (key/value binary, topic,
    partition, offset, timestamp, timestampType).  The value is a JSON
    events payload with a raw ns-epoch ``ts``; repair is integer
    ``div 1000`` to µs (never float ``/1000`` — CLAUDE.md trap).  Rows whose
    value fails to parse surface as NULL event_id rather than killing the
    query (dead-letter them downstream if needed).  Pure codegen — works
    identically on batch kafka-shaped frames, which is how it is tested.
    """
    parsed = kafka_df.select(
        F.col("partition").alias("_kafka_partition"),
        F.col("offset").alias("_kafka_offset"),
        F.from_json(F.col("value").cast("string"), KAFKA_EVENTS_JSON_SCHEMA).alias("e"),
    )
    return parsed.select(
        "e.event_id",
        F.col("e.ts").alias("ts_ns"),
        F.timestamp_micros(F.expr("e.ts div 1000")).alias("ts"),
        "e.user_id",
        "e.event_type",
        "e.value",
        "e.props",
        "_kafka_partition",
        "_kafka_offset",
    )


def kafka_events_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """readStream from a Kafka topic of JSON events (S-source matrix row).

    Scale notes: one Spark input partition per Kafka partition — size the
    topic's partition count to the executor core count; bound micro-batches
    with ``maxOffsetsPerTrigger``; exactly-once downstream comes from
    checkpointed offsets + idempotent/partitioned sinks (see
    ``run_to_memory``/foreachBatch patterns).  Requires the
    ``spark-sql-kafka-0-10`` connector on the classpath; raises Spark's
    DATA_SOURCE_NOT_FOUND otherwise (not swallowed — a silent fallback
    would mask a broken deployment).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_kafka_events(reader.load())

def stream_decontaminate(train_stream: DataFrame, bench_index: DataFrame) -> DataFrame:
    """STREAM-STATIC DECONTAMINATION — the streaming member of the
    pipeline family: training documents arrive as a stream, the benchmark
    gram index is the static broadcast side (eval suites change rarely and
    are tiny), and each arriving doc's containment against every benchmark
    doc is computed incrementally.

    Stateless per-doc up to the aggregation: explode grams → broadcast
    hash join; the (train_doc, bench_doc) shared-gram counts are a
    streaming aggregation whose state is one long per contaminated-pair
    candidate.  A doc's grams arrive within one micro-batch (file-granular
    source), so complete-mode output equals the batch operator on the
    union of all files — replay-equality asserted whole-corpus and across
    shard boundaries in tests/test_streaming.py.  At scale, key the state
    TTL/watermark to the ingest session; the filter and division happen
    post-aggregation so late gram increments can only move a pair TOWARD
    the threshold, never emit-then-retract."""
    from paraslice_spark.operators.text import decontaminate_pairs

    return decontaminate_pairs(train_stream, bench_index)


def stream_scd2(events: DataFrame) -> DataFrame:
    """Streaming SCD TYPE-2 — the stateful twin of the batch
    ``events_scd2_status`` interval builder: version rows are emitted
    INCREMENTALLY as the event stream closes them (a user's status change
    closes the previous version with valid_to = the new version's
    valid_from), so the versioned dimension stays current without ever
    rescanning history.

    State per user = (current status, its valid_from_ns, event count,
    version ordinal) — four scalars, bounded by the user population.
    Chunks concatenate before the time sort (the ADVICE-r5 rule); only
    CLOSED versions are emitted (append mode can't retract an open row);
    the open tail version lives in state, and replay-equality against the
    batch operator therefore holds on the closed subset — asserted
    whole-fixture and across shard splits in tests/test_streaming.py."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        status, vfrom, n, ver = (
            state.get if state.exists else (None, 0, 0, 0)
        )
        out = []
        chunks = list(pdf_iter)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_ns", "event_id"]
            )
            for et, ts in zip(pdf["event_type"], pdf["ts_ns"]):
                ts = int(ts)
                if status is None:
                    status, vfrom, n, ver = et, ts, 1, 1
                elif et == status:
                    n += 1
                else:
                    out.append((key[0], ver, status, vfrom, ts, n))
                    status, vfrom, n, ver = et, ts, 1, ver + 1
        state.update((status if status is not None else "", vfrom, n, ver))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "ver", "status", "valid_from_ns", "valid_to_ns",
                "n_events",
            ],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        by_ref(update),
        outputStructType=(
            "user_id long, ver long, status string, valid_from_ns long, "
            "valid_to_ns long, n_events long"
        ),
        stateStructType=(
            "status string, vfrom long, n long, ver long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_user_traffic(events: DataFrame) -> DataFrame:
    """Streaming HEAVY-HITTER TRAFFIC — the stateful twin of the batch
    ``events_heavy_hitters`` aggregate: one monotone int64 counter per
    user; each micro-batch containing a user's events emits that user's
    updated running total, so the MAX (== last — counts only grow)
    emission per user equals the batch per-user count, and top-k over
    those by (n DESC, user_id) reproduces the declared heavy-hitter
    table (asserted whole-fixture and split in tests/test_streaming.py).

    State is ONE long per user — the smallest possible stateful-agg
    footprint, bounded by the key population like stream_retention's
    mask.  Order-insensitive within a batch (a count needs no sort), so
    no chunk-concat rule applies.  At TB/day this per-key pre-agg is
    what feeds a store-sketch rollup (agg_countmin_topk_error's
    contract) or the AQE/salting skew calibration the batch twin's
    docstring describes."""
    import pandas as pd  # local import: only needed when the op runs
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        (n,) = state.get if state.exists else (0,)
        add = sum(len(pdf) for pdf in pdf_iter)
        if add:
            n += add
            state.update((n,))
            yield pd.DataFrame([(key[0], n)], columns=["user_id", "n"])

    keyed = events.select("user_id")
    return keyed.groupBy("user_id").applyInPandasWithState(
        by_ref(update),
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_countmin_counters(events: DataFrame) -> DataFrame:
    """Streaming COUNT-MIN SKETCH MAINTENANCE — the stateful rollup twin
    of ``agg_countmin_topk_error``'s batch sketch (the r7 CMS contract's
    "at TB/day this is what feeds a store-sketch rollup" sentence made
    executable): every event increments its d=4 md5-affine buckets, so
    the streaming state IS the fixed d×w counter table — bounded by the
    sketch geometry (≤1024 longs), NOT by the key population, which is
    the whole point of maintaining a sketch instead of exact per-key
    counters (stream_user_traffic) once keys outgrow state.

    Pure built-in streaming aggregation (no custom state needed —
    counters are a sum, Spark's agg state machinery is exactly this),
    sharing the hash constants with the batch query so replaying the
    fixture must reproduce the batch counter table EXACTLY
    (tests/test_streaming.py asserts whole-fixture and split-replay
    equality, and that min-over-buckets estimates never underestimate)."""
    from paraslice_spark.operators.aggregates import cms_buckets, cms_hash

    h = events.select(cms_hash().alias("h"))
    buckets = h.select(cms_buckets(F.col("h")).alias("j", "bucket"))
    return buckets.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


#: replay geometry for the DECLARED streaming query: enough micro-batches
#: that the watermark advances (and evicts) mid-stream, few enough that the
#: whole replay stays in the local job-floor band
SSWR_BATCHES = 6


@query("stream_session_watermark_replay")
def stream_session_watermark_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DECLARED REAL-STREAMING session×watermark replay — the first
    declared query that executes the actual Structured Streaming engine
    (file source → withWatermark → session_window → append-mode memory
    sink), not a batch twin: the events fixture is replayed through
    :func:`watermarked_sessions` under the SAME regime as the r10 batch
    audit (reshape.events_session_watermark_audit: 12 h session gap, 2 h
    watermark delay, md5-bounded ≤24 h ingestion disorder), and the
    emitted-session ledger plus the engine's own late-drop counter are
    returned as a deterministic per-day rollup.

    ROWS-ONLY BY DESIGN: the output is a function of Spark's
    session-window eviction semantics (pinned EXECUTABLE in
    tests/test_streaming.py::test_st34_* — lag-one eviction,
    post-eviction drop, merge-rescue), which no SQL oracle reproduces;
    the batch audit is its conservative-bound twin (divergence stated in
    its docstring).  Determinism is property-tested instead: batch
    assignment is a pure function of (event_id, ts) — arrival =
    ts_ns + (md5_u32(event_id) % 86400) s, the audit's exact disorder —
    cut into SSWR_BATCHES equi-width arrival buckets (1-row bounds
    broadcast), each written as exactly ONE parquet file (repartition by
    bucket), replayed one-file-per-trigger in explicit mtime order, so
    two replays of the same fixture produce identical ledgers
    (tests/test_r11_streaming_replay.py runs the stream twice).

    Scale shape: the replay harness is the test-rig part (one events
    pass writes the batch files; a real deployment readStreams from its
    real source) — the STREAMING plan itself is the 100 TB shape:
    per-user session state, watermark-bounded, append-mode emission;
    state size is O(open sessions), the drop counter is the engine's
    own numRowsDroppedByWatermark.  Output: per emitted-session day —
    sessions, users, events — plus the replay constants (batches,
    engine-counted late drops); sessions still open at end-of-stream are
    unemitted by append semantics (stated, not a bug)."""
    return _run_replay(
        spark,
        sf_dir,
        "replay:sswr",
        lambda stream: watermarked_sessions(
            stream, watermark="2 hours", gap="12 hours"
        ),
        _sswr_summarize,
    )


def _sswr_summarize(sink: DataFrame, dropped: int) -> DataFrame:
    day = F.expr("unix_micros(session_start) div 86400000000")
    return (
        sink.groupBy(day.alias("session_day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "session_day", "n_sessions", "n_users", "n_events",
            F.lit(SSWR_BATCHES).cast("long").alias("n_batches"),
            F.lit(int(dropped)).cast("long").alias("dropped_late"),
        )
        .repartition(1)
        .sortWithinPartitions("session_day")
    )


def replay_batch_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SINGLE batched-arrival definition shared by every declared
    replay (the _replay_arrival_frame discipline): arrival = ts +
    md5-bounded ≤24 h ingestion disorder, cut into SSWR_BATCHES
    equi-width arrival buckets, plus a deterministic 5% straggler cohort
    displaced TWO batches late (md5 selection).  +2 is load-bearing: the
    pinned st34 lag-one semantics evict state at the start of the next
    batch and a row arriving in that same batch still MERGES — a
    one-batch displacement measured 0-2 drops at every SF (the rescue
    path, vacuous for the drop counter); two batches puts stragglers
    firmly post-eviction, so the engine's numRowsDroppedByWatermark path
    is genuinely exercised.  Returns the events columns plus the bucket
    ``b`` — a pure function of (event_id, ts), so two replays of the
    same fixture see identical micro-batches."""
    from paraslice_spark.functions.canon import md5_u32
    from paraslice_spark.operators.reshape import EP_MAX_DELAY_S
    from paraslice_spark.sources.io import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    arr = (
        F.col("ts_ns") + (md5_u32("event_id") % EP_MAX_DELAY_S) * 1_000_000_000
    )
    tagged = ev.select(
        "event_id", "ts", "user_id", "event_type", "value", "props",
        arr.alias("arr"),
    )
    bounds = tagged.agg(F.min("arr").alias("mn"), F.max("arr").alias("mx"))
    straggler = (md5_u32("event_id") % 20 == 0).cast("long")
    b = F.least(
        F.lit(SSWR_BATCHES - 1),
        F.expr(f"(arr - mn) * {SSWR_BATCHES} div (mx - mn + 1)")
        + straggler * 2,
    )
    return tagged.crossJoin(F.broadcast(bounds)).select(
        b.alias("b"),
        "event_id", "ts", "user_id", "event_type", "value", "props",
    )


def _bytes_conf(spark, key: str, default: int) -> int:
    """Session conf value in bytes, accepting Spark's '128MB'-style units."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    for suf, mult in (
        ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30), ("mb", 1 << 20),
        ("kb", 1 << 10), ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
        ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if raw.endswith(suf):
            return int(float(raw[: -len(suf)]) * mult)
    return int(raw)


def _run_replay(
    spark, sf_dir, memo_name, agg_of_stream, result_of_sink,
    output_mode="append", sink="memory",
):
    """Shared declared-replay harness: write one parquet file per
    non-empty arrival bucket (repartition-by-bucket → exactly one file),
    replay one-file-per-trigger in pinned mtime order through the given
    streaming agg, summarize the sink plus the engine's
    numRowsDroppedByWatermark into a checkpointed result, memoized per
    (session, sf) under ``memo_name`` (the stream executes ONCE; the
    driver's actions replay the checkpoint).  ``output_mode`` is the sink
    mode under test (append emits closed windows once; update appends a
    snapshot row per changed window per batch — the ST8 surface
    stream_update_mode_replay prices).
    ``sink`` chooses the capture mechanism: "memory" (the in-memory
    table the tumbling trilogy uses) or "snapshot" — foreachBatch
    overwriting one parquet dir per trigger, so the final dir is the
    last trigger's full emission.  Snapshot is the capture for
    complete-mode SESSION replays: it is the production complete-sink
    shape (replace-table-per-trigger), and it bypasses the test-only
    memory sink, whose truncate+insert was observed ONCE (r13 probe, 1
    of ~8 runs, never reproduced in 6 back-to-back trials) returning a
    snapshot missing one state partition."""
    import glob
    import os
    import shutil
    import tempfile
    import uuid

    def build():
        stage = tempfile.mkdtemp(prefix="paraslice_replay_stage_")
        replay = tempfile.mkdtemp(prefix="paraslice_replay_dir_")
        name = "replay_" + uuid.uuid4().hex[:12]
        snapdir = None
        try:
            (
                replay_batch_frame(spark, sf_dir)
                .repartition(SSWR_BATCHES, F.col("b"))
                .write.partitionBy("b")
                .mode("overwrite")
                .parquet(stage)
            )
            # The oracle's dense batch-index/watermark model requires each
            # bucket to replay as exactly ONE micro-batch read as exactly ONE
            # input partition.  Both contracts fail loudly here (never via
            # `assert`, which vanishes under python -O — ADVICE r11 #2/#3):
            # multiple part files per bucket would replay as extra batches;
            # a file at/above Spark's split threshold
            # min(files.maxPartitionBytes, files.openCostInBytes) could split
            # across input partitions, making same-window rows partial-agg
            # separately and the engine's numRowsDroppedByWatermark exceed the
            # COUNT(DISTINCT (batch, window)) model.
            split_floor = min(
                _bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 128 << 20),
                _bytes_conf(spark, "spark.sql.files.openCostInBytes", 4 << 20),
            )
            for i in range(SSWR_BATCHES):
                parts = sorted(glob.glob(f"{stage}/b={i}/part-*.parquet"))
                if not parts:  # an arrival bucket can be empty at tiny SFs
                    continue
                if len(parts) != 1:  # repartition-by-b contract
                    raise RuntimeError(
                        f"replay bucket b={i} staged {len(parts)} parquet files "
                        f"(expected exactly 1 from repartition-by-b): {parts}"
                    )
                size = os.path.getsize(parts[0])
                if size >= split_floor:
                    raise RuntimeError(
                        f"replay batch file b={i} is {size} bytes >= the "
                        f"input-split floor {split_floor} "
                        "(min of spark.sql.files.maxPartitionBytes / "
                        "openCostInBytes) — it could split across input "
                        "partitions and break the replay oracle's "
                        "one-partition-per-batch drop-counter model"
                    )
                dst = f"{replay}/batch-{i:03d}.parquet"
                shutil.move(parts[0], dst)
                t = 1_700_000_000 + i * 60
                os.utime(dst, (t, t))
            stream = events_file_stream(spark, replay, max_files_per_trigger=1)
            if sink == "snapshot":
                snapdir = tempfile.mkdtemp(prefix="paraslice_replay_snap_")
                snap = os.path.join(snapdir, "snap")

                def _overwrite_snapshot(df, _epoch_id, _snap=snap):
                    df.write.mode("overwrite").parquet(_snap)

                writer = agg_of_stream(stream).writeStream.foreachBatch(
                    _overwrite_snapshot
                )
            else:
                writer = (
                    agg_of_stream(stream)
                    .writeStream.format("memory")
                    .queryName(name)
                )
            q = writer.outputMode(output_mode).trigger(availableNow=True).start()
            q.awaitTermination()
            dropped = sum(
                so.get("numRowsDroppedByWatermark", 0)
                for p in q.recentProgress
                for so in (p["stateOperators"] or [])
            )
            if sink == "snapshot" and not os.path.exists(snap):
                # foreachBatch never fired (ADVICE r13): zero triggers means an
                # empty replayed source — surface the contract violation
                # explicitly instead of an opaque path-missing AnalysisException
                raise RuntimeError(
                    "replay snapshot sink never materialized: the replayed "
                    "source produced zero triggers (empty events table?)"
                )
            emitted = (
                spark.read.parquet(snap) if sink == "snapshot"
                else spark.table(name)
            )
            res = result_of_sink(emitted, dropped).localCheckpoint(
                eager=True  # seal before the dirs vanish
            )
        finally:
            try:
                spark.catalog.dropTempView(name)
            except Exception:
                pass  # sink view never materialized (stream failed early)
            shutil.rmtree(stage, ignore_errors=True)
            shutil.rmtree(replay, ignore_errors=True)
            if sink == "snapshot" and snapdir is not None:
                shutil.rmtree(snapdir, ignore_errors=True)
        return res

    return memo(spark, sf_dir, memo_name, build)


#: watermark delay of the DECLARED tumbling replay, in engine milliseconds
#: (Spark parses "2 hours" to exactly this; the oracle must use the same
#: unit because the engine floors event-time stats to ms)
SSWR_DELAY_MS = 7_200_000


def _stwr_oracle() -> str:
    # the replay_batch_frame rule, restated in SQL: same md5 jitter, same
    # 6 equi-width arrival buckets, same 5% +2-batch stragglers
    from paraslice_spark.operators.reshape import EP_MAX_DELAY_S

    h = md5_u32_sql("event_id")
    return f"""
    WITH e AS MATERIALIZED (
      SELECT event_id,
             epoch_ns(ts) AS ts_ns,
             epoch_ns(ts) // 1000000 AS ts_ms,
             CAST(round(value * 1000000) AS BIGINT) AS vmic,
             epoch_ns(ts) + ({h} % {EP_MAX_DELAY_S}) * 1000000000 AS arr,
             CASE WHEN {h} % 20 = 0 THEN 1 ELSE 0 END AS strag
      FROM events),
    bd AS (SELECT MIN(arr) AS mn, MAX(arr) AS mx FROM e),
    tagged AS MATERIALIZED (
      SELECT event_id, ts_ns, ts_ms, vmic,
             LEAST({SSWR_BATCHES - 1},
                   (arr - mn) * {SSWR_BATCHES} // (mx - mn + 1) + 2 * strag)
               AS b
      FROM e, bd),
    -- only non-empty buckets become replay files: micro-batch index =
    -- dense position of the bucket among observed buckets
    batches AS (SELECT b, ROW_NUMBER() OVER (ORDER BY b) - 1 AS i
                FROM (SELECT DISTINCT b FROM tagged)),
    pb AS (SELECT t.b, i, MAX(ts_ms) AS m
           FROM tagged t JOIN batches USING (b) GROUP BY 1, 2),
    -- the engine's operative watermark for batch i is the ms-floored max
    -- event time over batches <= i-2, minus the delay (the pinned lag:
    -- stats from batch i-1 reach the filter one batch later, which is
    -- exactly the st34 same-batch merge-rescue)
    wm AS (SELECT b,
                  MAX(m) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 2 PRECEDING) - {SSWR_DELAY_MS} AS wm_ms
           FROM pb),
    fin AS (SELECT MAX(ts_ms) - {SSWR_DELAY_MS} AS final_wm FROM e),
    kept AS MATERIALIZED (
      SELECT t.b, ts_ns // 3600000000000 AS hr,
             (ts_ns // 3600000000000 + 1) * 3600000 AS end_ms,
             CASE WHEN wm_ms IS NOT NULL AND wm_ms >= end_ms
                  THEN 1 ELSE 0 END AS is_drop,
             vmic
      FROM tagged t JOIN wm w ON w.b = t.b),
    -- the engine's numRowsDroppedByWatermark counts POST-PARTIAL-AGG rows:
    -- same-window rows within a micro-batch combine map-side before the
    -- state operator's late filter, so drops count once per
    -- (batch, window) — pinned by per-batch probe (engine 6/10/7/19 ==
    -- distinct windows, not the 6/10/8/20 raw rows, at sf0.001)
    tot AS (SELECT CAST(COUNT(DISTINCT (b, hr)) AS BIGINT) AS dropped
            FROM kept WHERE is_drop = 1)
    SELECT hr, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(vmic) AS BIGINT) AS value_micros,
           CAST({SSWR_BATCHES} AS BIGINT) AS n_batches,
           dropped AS dropped_late
    FROM kept, fin, tot
    WHERE is_drop = 0 AND final_wm >= end_ms
    GROUP BY hr, dropped
    ORDER BY hr
    """


@query("stream_tumbling_watermark_replay", oracle=_stwr_oracle())
def stream_tumbling_watermark_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HASH-ORACLED REAL-STREAMING tumbling×watermark replay — the
    engine's own watermark semantics cross-checked against DuckDB: the
    same batched replay as stream_session_watermark_replay
    (:func:`replay_batch_frame` — one disorder definition for all
    declared replays) drives withWatermark("2 hours") + 1-hour tumbling
    windows in append mode, and the DECLARED output (per emitted hour:
    kept-event count + exact value-micros sum, plus the engine-counted
    late drops as a constant column) hash-matches a pure-SQL model of
    Spark's micro-batch watermark machinery.

    Unlike session windows (merge semantics — rows-only), tumbling
    windows make the engine EXACTLY modelable, so this converts the
    streaming class from rows-only to hash-oracled.  The model encodes
    three engine behaviors pinned by crafted-batch probes
    (tests/test_streaming.py::test_st4*, test_r11 replay probes):

    - the operative watermark for micro-batch i is the ms-FLOORED max
      event time over batches ≤ i−2, minus the delay — the one-batch
      stats lag that makes a row arriving WITH the eviction still merge
      (st34's rescue), so a row drops iff that lagged watermark ≥ its
      window end (boundary: ≥, measured — equality evicts);
    - availableNow runs a finalize batch under the FULL watermark, so a
      window is emitted iff ms-floored global max event time − delay ≥
      its end (measured: the last data batch's advance does emit);
    - emitted counts include rescued rows and exclude dropped ones; and
      numRowsDroppedByWatermark counts POST-PARTIAL-AGGREGATION rows —
      same-window rows within a micro-batch combine map-side before the
      state operator's late filter, so the counter is the number of
      distinct (batch, window) drop pairs, not dropped input rows
      (pinned per-batch: engine 6/10/7/19 vs 6/10/8/20 raw rows at
      sf0.001; exact at sf0.01: 232 == 232).  This holds because the
      replay's batch files are single-partition-sized (MBs); a file
      split across input partitions would partial-agg separately.

    Scale shape: identical to the session replay (per-window state,
    append emission, O(open windows) state) — the oracle prices the
    model off one window over a ≤6-row batch frame."""
    return _run_replay(
        spark,
        sf_dir,
        "replay:stwr",
        _tumbling_micros_agg,
        _stwr_summarize,
    )


def _tumbling_micros_agg(stream: DataFrame) -> DataFrame:
    """Hour windows under the declared 2 h watermark, aggregating exact
    integer micro-units (float sums would break the cross-engine hash)."""
    from paraslice_spark.functions.canon import micros_units

    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(micros_units("value")).alias("value_micros"),
        )
        .select(F.col("win.start").alias("hour_start"), "n_events", "value_micros")
    )


def _stwr_summarize(sink: DataFrame, dropped: int) -> DataFrame:
    hr = F.expr("unix_micros(hour_start) div 3600000000")
    return (
        sink.select(
            hr.alias("hr"),
            "n_events",
            "value_micros",
            F.lit(SSWR_BATCHES).cast("long").alias("n_batches"),
            F.lit(int(dropped)).cast("long").alias("dropped_late"),
        )
        .repartition(1)
        .sortWithinPartitions("hr")
    )


def _sumr_oracle() -> str:
    # the tumbling replay model WITHOUT the append-mode final-watermark
    # emission gate: update mode emits a snapshot per (batch, window) the
    # batch changed, so every window with >=1 kept row appears — open or
    # closed — with n_updates = #touching batches and finals = cumulative
    # kept aggregates; the drop model is the same lagged watermark
    from paraslice_spark.operators.reshape import EP_MAX_DELAY_S

    h = md5_u32_sql("event_id")
    return f"""
    WITH e AS MATERIALIZED (
      SELECT event_id,
             epoch_ns(ts) AS ts_ns,
             epoch_ns(ts) // 1000000 AS ts_ms,
             CAST(round(value * 1000000) AS BIGINT) AS vmic,
             epoch_ns(ts) + ({h} % {EP_MAX_DELAY_S}) * 1000000000 AS arr,
             CASE WHEN {h} % 20 = 0 THEN 1 ELSE 0 END AS strag
      FROM events),
    bd AS (SELECT MIN(arr) AS mn, MAX(arr) AS mx FROM e),
    tagged AS MATERIALIZED (
      SELECT event_id, ts_ns, ts_ms, vmic,
             LEAST({SSWR_BATCHES - 1},
                   (arr - mn) * {SSWR_BATCHES} // (mx - mn + 1) + 2 * strag)
               AS b
      FROM e, bd),
    batches AS (SELECT b, ROW_NUMBER() OVER (ORDER BY b) - 1 AS i
                FROM (SELECT DISTINCT b FROM tagged)),
    pb AS (SELECT t.b, i, MAX(ts_ms) AS m
           FROM tagged t JOIN batches USING (b) GROUP BY 1, 2),
    wm AS (SELECT b,
                  MAX(m) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 2 PRECEDING) - {SSWR_DELAY_MS} AS wm_ms
           FROM pb),
    kept AS MATERIALIZED (
      SELECT t.b, ts_ns // 3600000000000 AS hr,
             (ts_ns // 3600000000000 + 1) * 3600000 AS end_ms,
             CASE WHEN wm_ms IS NOT NULL AND wm_ms >= end_ms
                  THEN 1 ELSE 0 END AS is_drop,
             vmic
      FROM tagged t JOIN wm w ON w.b = t.b),
    tot AS (SELECT CAST(COUNT(DISTINCT (b, hr)) AS BIGINT) AS dropped
            FROM kept WHERE is_drop = 1)
    SELECT hr,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_updates,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(vmic) AS BIGINT) AS value_micros,
           CAST({SSWR_BATCHES} AS BIGINT) AS n_batches,
           dropped AS dropped_late
    FROM kept, tot
    WHERE is_drop = 0
    GROUP BY hr, dropped
    ORDER BY hr
    """


@query("stream_update_mode_replay", oracle=_sumr_oracle())
def stream_update_mode_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-ORACLED REAL-STREAMING replay in UPDATE output mode — ST8's
    last undeclared sink behavior (VERDICT r11 #6), priced by the engine
    itself: the SAME batched replay as the append-mode twin
    (stream_tumbling_watermark_replay; one :func:`replay_batch_frame`
    disorder definition for every declared replay) drives the identical
    withWatermark("2 hours") + 1-hour tumbling aggregate, but the memory
    sink runs in UPDATE mode, so each micro-batch appends one SNAPSHOT
    row per window it changed.  The declared per-hour ledger — number of
    update emissions, final event count, final exact value-micros sum,
    plus the engine-counted late drops — hash-matches a pure-SQL model
    of Spark's update-mode emission semantics in DuckDB.

    The model is the proven append-mode watermark machinery (lag-one
    ms-floored stats, the +2-batch straggler displacement, POST-PARTIAL-
    AGG drop counting) with TWO update-mode differences, both verified
    by exact engine probes at sf0.001 (522 windows, drops 42==42) and
    sf0.01 (720 windows, 873 snapshot rows, drops 232==232):

    - NO final-watermark emission gate: update mode emits windows as
      they change, so open windows appear too (the append twin's
      `fin` CTE is exactly the clause this oracle drops);
    - n_updates per window = COUNT(DISTINCT touching batch): a batch
      emits a window's snapshot iff it contributed >=1 kept row, and
      each snapshot's running count strictly grows, so the final
      (max-count) snapshot carries the cumulative kept aggregate —
      which is why max/max_by summarization below is deterministic.

    Scale shape: identical to the append replay — per-window state,
    O(changed windows) emission per batch, the engine's own
    numRowsDroppedByWatermark; update mode trades append's exactly-once
    closed-window ledger for earlier visibility, and THIS query is the
    calibration table for that tradeoff (n_updates is the write
    amplification a downstream upsert sink would absorb)."""
    return _run_replay(
        spark,
        sf_dir,
        "replay:sumr",
        _tumbling_micros_agg,
        _sumr_summarize,
        output_mode="update",
    )


def _sumr_summarize(sink: DataFrame, dropped: int) -> DataFrame:
    hr = F.expr("unix_micros(hour_start) div 3600000000")
    return (
        sink.groupBy(hr.alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_updates"),
            F.max("n_events").alias("n_events"),
            F.expr("max_by(value_micros, n_events)").alias("value_micros"),
        )
        .select(
            "hr", "n_updates", "n_events", "value_micros",
            F.lit(SSWR_BATCHES).cast("long").alias("n_batches"),
            F.lit(int(dropped)).cast("long").alias("dropped_late"),
        )
        .repartition(1)
        .sortWithinPartitions("hr")
    )


@query(
    "stream_complete_mode_replay",
    oracle=f"""
    SELECT epoch_ns(ts) // 3600000000000 AS hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
             AS value_micros,
           CAST({SSWR_BATCHES} AS BIGINT) AS n_batches,
           CAST(0 AS BIGINT) AS dropped_late
    FROM events GROUP BY hr ORDER BY hr
    """,
)
def stream_complete_mode_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-ORACLED REAL-STREAMING replay in COMPLETE output mode — the
    third panel of the ST8 sink-mode trilogy (append r11 / update r12 /
    complete here), all three driven by the SAME :func:`replay_batch_frame`
    disorder through the SAME tumbling watermark aggregate, so the three
    declared ledgers differ ONLY by output-mode semantics.

    The oracle is deliberately the PLAIN BATCH AGGREGATE over all events
    — because that is exactly Spark's complete-mode contract, and the
    hash match pins three engine behaviors against the REAL engine
    (probed exact at sf0.001: 531 windows, drops 0==0):

    - the watermark does NOT drop late rows in complete mode (the
      declared dropped_late column carries the ENGINE's own
      numRowsDroppedByWatermark; the oracle writes 0 — any engine drop
      would hash-mismatch, which is the pin);
    - state is never evicted (windows closed since batch 1 are still in
      the final table — complete state is O(all windows), the scale
      cost this mode trades for full-table semantics);
    - the memory sink REPLACES per batch (the final table is the last
      batch's complete state, one row per window — not the
      append/update snapshot multiset).

    Scale shape: this is the mode you do NOT run over 100 TB of
    unbounded event time — state grows with total distinct windows and
    every trigger re-emits the full result; the trilogy's point is that
    this tradeoff is now a measured, hash-graded table next to its
    bounded-state siblings rather than a doc footnote."""
    return _run_replay(
        spark,
        sf_dir,
        "replay:scmr",
        _tumbling_micros_agg,
        _stwr_summarize,  # same (hr, n, vmic, batches, drops) ledger shape
        output_mode="complete",
    )


#: session gap of the declared session replays in µs (Spark parses
#: "12 hours" to exactly this; sessionization merges at FULL µs event-time
#: precision — only the watermark comparison is ms-floored)
SSCR_GAP_US = 43_200_000_000


def _sscr_oracle() -> str:
    # the replay_batch_frame rule + the session late filter + global
    # sessionization of survivors, rolled up per session-start day
    from paraslice_spark.operators.reshape import EP_MAX_DELAY_S

    h = md5_u32_sql("event_id")
    return f"""
    WITH e AS MATERIALIZED (
      SELECT event_id, user_id,
             epoch_ns(ts) // 1000 AS ts_us,
             epoch_ns(ts) // 1000000 AS ts_ms,
             epoch_ns(ts) + ({h} % {EP_MAX_DELAY_S}) * 1000000000 AS arr,
             CASE WHEN {h} % 20 = 0 THEN 1 ELSE 0 END AS strag
      FROM events),
    bd AS (SELECT MIN(arr) AS mn, MAX(arr) AS mx FROM e),
    tagged AS MATERIALIZED (
      SELECT event_id, user_id, ts_us, ts_ms,
             LEAST({SSWR_BATCHES - 1},
                   (arr - mn) * {SSWR_BATCHES} // (mx - mn + 1) + 2 * strag)
               AS b
      FROM e, bd),
    batches AS (SELECT b, ROW_NUMBER() OVER (ORDER BY b) - 1 AS i
                FROM (SELECT DISTINCT b FROM tagged)),
    pb AS (SELECT t.b, i, MAX(ts_ms) AS m
           FROM tagged t JOIN batches USING (b) GROUP BY 1, 2),
    wm AS (SELECT b,
                  MAX(m) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 2 PRECEDING) - {SSWR_DELAY_MS} AS wm_ms
           FROM pb),
    -- the session late filter is PER ROW (no in-batch merge rescue —
    -- micro-pinned in test_st35): a row drops iff the lagged watermark
    -- has reached its own candidate window end ts + gap (>= at the
    -- boundary, like tumbling eviction)
    kept AS MATERIALIZED (
      SELECT t.user_id, t.ts_us,
             CASE WHEN wm_ms IS NOT NULL
                       AND wm_ms * 1000 >= ts_us + {SSCR_GAP_US}
                  THEN 1 ELSE 0 END AS is_drop
      FROM tagged t JOIN wm w ON w.b = t.b),
    gmarks AS (
      SELECT user_id, ts_us,
             CASE WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                       IS NULL
                  OR ts_us >= LAG(ts_us) OVER (PARTITION BY user_id
                                               ORDER BY ts_us) + {SSCR_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM kept WHERE is_drop = 0),
    gsess AS (SELECT user_id, ts_us,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us)
                       AS sid
              FROM gmarks),
    sess AS (SELECT user_id, MIN(ts_us) AS s_us, CAST(COUNT(*) AS BIGINT)
               AS n_ev
             FROM gsess GROUP BY user_id, sid),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS dropped
           FROM kept WHERE is_drop = 1)
    SELECT s_us // 86400000000 AS session_day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST({SSWR_BATCHES} AS BIGINT) AS n_batches,
           dropped AS dropped_late
    FROM sess, nd
    GROUP BY session_day, dropped
    ORDER BY session_day
    """


@query("stream_session_complete_replay", oracle=_sscr_oracle())
def stream_session_complete_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-ORACLED REAL-STREAMING session×COMPLETE replay — the cell
    that finishes the sink-mode × window-type matrix (tumbling has the
    full append/update/complete trilogy; session append is the r11
    rows-only replay; session UPDATE is engine-impossible —
    STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION, pinned executable in
    tests/test_streaming.py).  The same :func:`replay_batch_frame`
    disorder drives withWatermark("2 hours") + session_window(12 hours)
    with a COMPLETE-mode snapshot sink, and the declared per-day ledger
    of the FINAL snapshot hash-matches a pure-SQL model of the engine's
    session machinery in DuckDB.

    The model pins an engine asymmetry the tumbling trilogy cannot see:
    complete mode does NOT disable the watermark for session windows
    the way it does for tumbling aggregates
    (stream_complete_mode_replay pins drops == 0; HERE drops are live —
    43/303/3279 at sf0.001/0.01/0.1, engine == model).  Spark's
    MergingSessionsExec filters late input BEFORE merging, per ROW, in
    every output mode — r13 micro-probes (test_st35_*) pinned:

    - a late row drops iff the lag-TWO ms-floored watermark ≥ its own
      candidate window end ts + gap (>= at the boundary: end == wm
      drops, end == wm + 1 ms keeps) — even when it would have merged
      with a kept row in the SAME batch (no in-batch merge rescue for
      the filter; the drop counter is therefore raw dropped rows, not
      the tumbling trilogy's post-partial-agg distinct pairs);
    - state is never evicted in complete mode (numRowsRemoved == 0;
      every batch re-emits every session ever formed from kept rows),
      so the final snapshot is EXACTLY the batch sessionization of the
      surviving rows — which is what the oracle computes.

    Capture uses the harness's snapshot sink (foreachBatch overwriting
    one parquet dir per trigger — the production complete-sink shape,
    replace-table-per-trigger) rather than the test-only memory sink.

    Scale shape: the O(all sessions ever) state and full re-emission
    per trigger are complete mode's real cost — this ledger is the
    measured price table next to the bounded-state append twin, and the
    session column now has every mode graded: append rows-only (merge
    semantics), update impossible (engine), complete hash-oracled."""
    return _run_replay(
        spark,
        sf_dir,
        "replay:sscr",
        lambda stream: watermarked_sessions(
            stream, watermark="2 hours", gap="12 hours"
        ),
        _sscr_summarize,
        output_mode="complete",
        sink="snapshot",
    )


def _sscr_summarize(sink: DataFrame, dropped: int) -> DataFrame:
    day = F.expr("unix_micros(session_start) div 86400000000")
    return (
        sink.groupBy(day.alias("session_day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            "session_day", "n_sessions", "n_users", "n_events",
            F.lit(SSWR_BATCHES).cast("long").alias("n_batches"),
            F.lit(int(dropped)).cast("long").alias("dropped_late"),
        )
        .repartition(1)
        .sortWithinPartitions("session_day")
    )
