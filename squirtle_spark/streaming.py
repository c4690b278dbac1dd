"""Structured Streaming wiring: file-replay sources, windowed transforms,
watermarks, and the sink set.

Parity map (SURVEY.md §2.9):

- flock's per-epoch micro-batch ("ElementWise window",
  flock-function/src/aws/window/elementwise.rs:30-186) → Structured
  Streaming micro-batches themselves.
- tumbling/hopping (tumbling.rs:31-188, hopping.rs:31-99) → ``window()``.
- session (session.rs:42-271) → ``session_window()`` (state-store backed).
- collect-then-fire arena + payload shuffle (flock/src/runtime/arena) →
  Spark shuffle + state store; nothing to port.
- state backends / read-repair (flock/src/state) → checkpointLocation.
- sinks (flock/src/datasink/mod.rs:47-72): S3/EFS parquet → file sinks,
  blackhole → noop, plus memory (tests) and foreachBatch (k/v stores).

Watermarks are strictly *more* than the reference offers — flock assumes
in-order epochs and has no late-data story (window.rs sweep functions).

Every NEXMark runner is one shape: flush its replay dirs
(write_flush_epoch), replay them with ``epoch`` dropped, apply its
streaming transform, drain it with ``_drain``, and finish in batch. The
drain is the one place a runner's query is started, awaited, timed out
and crash-injected. Its contract: an append-mode result drains into a
parquet file sink (``result_path`` or ``{checkpoint}-out``) and comes
back as a lazy read with the result's own schema — nothing crosses the
driver; complete and update modes, which a file sink cannot take, drain
into the memory sink and come back as a read of its table
(``run_available_now`` collects it). ``metrics`` receives the
drained query's state-operator summary (capture_state_metrics), and
``crash_after_s`` stops the first run after a committed micro-batch and
restarts it from the same checkpoint.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StreamingQuery

from . import catalog


def write_epoch_files(df: DataFrame, path: str, epoch_col: str = "epoch") -> None:
    """Materialize a bounded stream as one file-group per epoch for replay
    (the deterministic-replay trick SURVEY.md §7 calls for: event-time from
    data + file-based replay + availableNow)."""
    (
        df.repartition(F.col(epoch_col))
        .write.mode("overwrite")
        .partitionBy(epoch_col)
        .parquet(path)
    )


def replay_stream(
    spark: SparkSession, path: str, files_per_trigger: int = 1
) -> DataFrame:
    """readStream over epoch-partitioned files → micro-batch replay."""
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )


def _with_event_time(stream: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (not NTZ); with the session pinned UTC
    the cast preserves wall-clock values."""
    return stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


def tumbling_agg(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    size: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Event-time tumbling count per key (q7/q8 window shape)."""
    return (
        _with_event_time(stream, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, size), F.col(key_col))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("win_start"),
            key_col,
            "cnt",
        )
    )


def hopping_agg(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    size: str = "10 seconds",
    slide: str = "5 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Event-time hopping count per key (q5 window shape)."""
    return (
        _with_event_time(stream, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, size, slide), F.col(key_col))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("win_start"), key_col, "cnt")
    )


def session_agg(
    stream: DataFrame,
    ts_col: str,
    key_col: str,
    gap: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Gap-based session count per key (q11 shape; flock session.rs parity)."""
    return (
        _with_event_time(stream, ts_col)
        .withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), F.session_window(ts_col, gap))
        .agg(F.count("*").alias("cnt"))
        .select(
            key_col,
            F.col("session_window.start").alias("starttime"),
            F.col("session_window.end").alias("endtime"),
            "cnt",
        )
    )


def drop_flush_sentinels(df: DataFrame, keys: list[str]) -> DataFrame:
    """Drop write_flush_epoch's sentinel rows (negative ``keys``): the
    sentinel exists only to push the watermark past the tail windows, but
    dirs are MUTATED by the flush — a later topology re-reading a shared
    dir would otherwise aggregate the sentinel into real groups (a
    spurious auction=-1 "hot item", a bidder=-1 session, a far-future
    max-price window; round-6 review finding). Every aggregating consumer
    of a bids/persons/auctions replay dir filters through this; only
    residual-guarded joins (the winning-bid interval join) are safe
    without it."""
    cond = None
    for k in keys:
        c = F.col(k).isNull() | (F.col(k) >= 0)
        cond = c if cond is None else (cond & c)
    return df.where(cond)


#: Timestamp column and sentinel keys of each NEXMark replay-dir kind
#: (the ``ts_col``/``neg_keys`` write_flush_epoch takes).
_BIDS = ("b_date_time", ["auction", "bidder"])
_AUCTIONS = ("a_date_time", ["a_id", "seller"])
_PERSONS = ("p_date_time", ["p_id"])


def _flush(spark: SparkSession, advance_s: int, *dirs: tuple) -> None:
    """write_flush_epoch each ``(path, (ts_col, neg_keys))`` replay dir."""
    for path, (ts_col, neg_keys) in dirs:
        write_flush_epoch(spark, path, ts_col, advance_s, neg_keys)


def _replay(spark: SparkSession, path: str, files_per_trigger: int) -> DataFrame:
    """replay_stream without the replay's ``epoch`` partition column."""
    return replay_stream(spark, path, files_per_trigger=files_per_trigger).drop(
        "epoch"
    )


def _hadoop_path(spark: SparkSession, path: str):
    """``path``'s Hadoop FileSystem and Path: any URI scheme resolves."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _has_parquet_files(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds a visible parquet file (a drain that emitted
    nothing leaves none, possibly no dir at all)."""
    fs, p = _hadoop_path(spark, path)
    return fs.exists(p) and any(
        n.endswith(".parquet") and not n.startswith(("_", "."))
        for n in (st.getPath().getName() for st in fs.listStatus(p))
    )


def _drain(
    result: DataFrame,
    *,
    checkpoint: str,
    out: str | None = None,
    mode: str = "append",
    timeout_s: int,
    metrics: dict | None = None,
    crash_after_s: float | None = None,
) -> DataFrame:
    """Drain a bounded replay with ``availableNow`` and return its result.

    With ``out``, the append-mode result lands in a parquet file sink
    there — the production result path, every batch's rows land
    distributed on storage — and comes back as a lazy read with the
    result's schema (empty if nothing was emitted). Without ``out`` it
    drains into the memory sink, the one complete and update modes can
    use, and comes back as a read of the sink's table. ``metrics``, when
    given, receives the final progress's state-operator summary
    (capture_state_metrics).

    ``crash_after_s`` injects a mid-replay failure: the first drain is
    stopped as soon as it has committed ≥1 micro-batch while still
    active — gated on OBSERVED batch progress, not a wall-clock sleep,
    so a fast host can't drain everything before the stop lands and
    turn the recovery path into a vacuous no-op restart (ADVICE r13);
    ``crash_after_s`` bounds how long to wait for that first commit. An
    identical sink then restarts from the SAME checkpoint — state
    stores recover, the sink commit log keeps the union exactly-once
    (flock's PROCESSED_WINDOWS idempotence, subsumed by checkpoint +
    commit log). ``metrics["crash"]`` records whether the stop actually
    interrupted an active query, so tests can assert the recovery path
    ran rather than trust the timing. Callers use it to run the
    crash-recovery adoption check through the REAL runner instead of a
    reimplemented pipeline."""
    import time as _time

    spark = result.sparkSession
    # full non-alnum sanitize: a '.' (or any other non-identifier char)
    # in the checkpoint basename would make the memory table's name
    # parse as db.table and lose the drained result
    name = out or "mem_" + re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(checkpoint))

    def start() -> StreamingQuery:
        w = result.writeStream
        if out:
            w = w.format("parquet").option("path", out)
        else:
            w = w.format("memory").queryName(name)
        return (
            w.outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    crash_info: dict | None = None
    if crash_after_s is not None:
        # The crash must land AFTER >= 1 committed micro-batch or the
        # "recovery" restarts from an empty checkpoint and proves
        # nothing: the stop is GATED on recentProgress being non-empty,
        # waiting at most crash_after_s plus the drain timeout, and then
        # fails loudly instead of recording a vacuous
        # batches_before_crash=0 crash (ADVICE r14).
        deadline = _time.time() + crash_after_s + timeout_s
        while _time.time() < deadline and q.isActive and not q.recentProgress:
            _time.sleep(0.05)
        if q.isActive and not q.recentProgress:
            q.stop()
            raise RuntimeError(
                f"crash injection for '{name}': no micro-batch committed "
                f"within {timeout_s}s past the {crash_after_s}s target - "
                "cannot stage a meaningful recovery"
            )
        crash_info = {
            "interrupted_active": bool(q.isActive),
            "batches_before_crash": len(q.recentProgress),
        }
        q.stop()  # interrupt mid-replay; commit log hides the partial batch
        q = start()
    if not q.awaitTermination(timeout_s):
        # Partial results would make equality tests flaky and leak the query.
        q.stop()
        raise TimeoutError(f"stream '{name}' still running after {timeout_s}s")
    if metrics is not None:
        metrics.update(capture_state_metrics(q))
        if crash_info is not None:
            metrics["crash"] = crash_info
    if not out:
        return spark.table(name)
    if not _has_parquet_files(spark, out):
        return spark.createDataFrame([], result.schema)
    return spark.read.schema(result.schema).parquet(out)


def capture_state_metrics(q: StreamingQuery) -> dict:
    """State-store footprint of a drained query, from the engine's own
    StreamingQueryProgress: per-operator peak rows/bytes over the
    RETAINED progress window and the final batch's values. This is the
    number that backs every "state is bounded" claim in SCALING.md — a
    complete-mode or unbounded-state operator shows monotone growth
    here; a watermarked append operator shows eviction (final ≤ peak).
    Scope: recentProgress keeps only the last
    spark.sql.streaming.numRecentProgressUpdates (default 100) batches,
    so a >100-batch drain whose state peaked early under-reports the
    peak — the bench/stress lanes run well under that (final<peak
    eviction checks stay conservative either way)."""
    ops: dict[str, dict] = {}
    for p in q.recentProgress:
        for i, so in enumerate(p.stateOperators or []):
            name = so.operatorName or f"op{i}"
            cur = ops.setdefault(
                name,
                {"peak_rows": 0, "peak_bytes": 0, "final_rows": 0, "final_bytes": 0},
            )
            rows = so.numRowsTotal or 0
            mem = so.memoryUsedBytes or 0
            cur["peak_rows"] = max(cur["peak_rows"], rows)
            cur["peak_bytes"] = max(cur["peak_bytes"], mem)
            cur["final_rows"] = rows
            cur["final_bytes"] = mem
    return {"state_operators": ops}


#: Warn when HDFSBacked state crosses this fraction of the JVM heap.
#: SCALING.md's measured rule: the in-heap provider DIES (executor OOM,
#: not degradation) once state approaches ~half the heap (join state;
#: session-heavy state hits the wall ~40% earlier at ~1.1 KB/open
#: session), while RocksDB held 6.7x heap as compressed SSTs. 0.25
#: leaves the operator margin to drain and switch providers at the next
#: (re)start — provider choice is baked into a checkpoint's format, so
#: the advisor must fire with room to spare, not at the wall.
STATE_PRESSURE_WARN_FRACTION = 0.25

#: Session ids that already got the one-time warning (the advisor is a
#: nudge toward a config switch, not a per-batch alarm).
_STATE_PRESSURE_WARNED: set[str] = set()

#: Session ids with an installed advisor listener (idempotence guard —
#: get_spark re-runs its session setup on every call).
_STATE_PRESSURE_INSTALLED: dict[str, object] = {}


def _executor_heap_bytes(spark: SparkSession) -> int:
    """Heap budget a state store competes with: ``spark.executor.memory``
    when configured (cluster), else the live JVM's max heap (local[*],
    where executors share the driver JVM)."""
    mem = None
    try:
        mem = spark.conf.get("spark.executor.memory")
    except Exception:
        pass
    if mem:
        m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
        if m:
            mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
            return int(m.group(1)) * mult[m.group(2)]
    return int(spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())


def install_state_pressure_advisor(
    spark: SparkSession, warn_fraction: float = STATE_PRESSURE_WARN_FRACTION
) -> None:
    """Surface SCALING.md's state-store rule at runtime (VERDICT r14 #7).

    Adds a StreamingQueryListener that, after each micro-batch, sums the
    progress event's ``memoryUsedBytes`` across state operators and —
    when the default in-heap (HDFSBacked) provider is active and the
    total crosses ``warn_fraction`` of the executor heap — logs ONE
    warning per session naming the ``$SPARK_GRAFT_STATE_STORE=rocksdb``
    switch (``session.configure_state_store``). RocksDB sessions never
    warn here: the same probe measured it holding 6.7x heap of logical
    state as compressed SSTs. Flock makes the state backend a config
    choice (flock/src/state/mod.rs:17-25); ours self-diagnoses when the
    in-heap choice is approaching its measured death, BEFORE the wall —
    provider choice is checkpoint-baked, so the operator needs the
    warning while a drain-and-restart is still cheap."""
    import logging

    from pyspark.sql.streaming import listener as _listener_mod

    app_id = spark.sparkContext.applicationId
    if app_id in _STATE_PRESSURE_INSTALLED:
        return
    heap = _executor_heap_bytes(spark)
    threshold = int(heap * warn_fraction)
    log = logging.getLogger(__name__)

    def _rocksdb_active() -> bool:
        try:
            cls = spark.conf.get(
                "spark.sql.streaming.stateStore.providerClass", ""
            )
        except Exception:
            return False
        return "RocksDB" in (cls or "")

    class _StatePressureListener(_listener_mod.StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if app_id in _STATE_PRESSURE_WARNED or _rocksdb_active():
                return
            try:
                used = sum(
                    (so.memoryUsedBytes or 0)
                    for so in (event.progress.stateOperators or [])
                )
            except Exception:
                return
            if used > threshold:
                _STATE_PRESSURE_WARNED.add(app_id)
                log.warning(
                    "streaming state is %.1f MB = %.0f%% of the %.1f GB "
                    "executor heap on the in-heap (HDFSBacked) provider, "
                    "which dies (executor OOM) once state approaches "
                    "~half the heap. Switch to RocksDB before the wall: "
                    "set SPARK_GRAFT_STATE_STORE=rocksdb or call "
                    "session.configure_state_store(spark, 'rocksdb') and "
                    "restart the query from a fresh checkpoint "
                    "(provider choice is baked into the checkpoint "
                    "format). Measured: RocksDB held 6.7x heap of "
                    "logical state as compressed SSTs (SCALING.md).",
                    used / 2**20,
                    100.0 * used / max(heap, 1),
                    heap / 2**30,
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    lst = _StatePressureListener()
    spark.streams.addListener(lst)
    _STATE_PRESSURE_INSTALLED[app_id] = lst

    # Python listeners ride the py4j callback server; if the interpreter
    # exits while progress events are still in flight, the JVM logs
    # noisy 'Error while sending a command' stacks. Deregister at exit
    # (atexit is LIFO, so this runs before py4j's own import-time
    # shutdown hooks tear the gateway down).
    import atexit

    def _detach() -> None:
        try:
            if _STATE_PRESSURE_INSTALLED.get(app_id) is lst:
                spark.streams.removeListener(lst)
                _STATE_PRESSURE_INSTALLED.pop(app_id, None)
        except Exception:
            pass

    atexit.register(_detach)


def run_nexmark_q5_stream(
    spark: SparkSession,
    bids_path: str,
    *,
    checkpoint: str,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
    delay: str = "600 seconds",
    flush_advance_s: int = 3_600,
    result_path: str | None = None,
    metrics: dict | None = None,
    crash_after_s: float | None = None,
) -> DataFrame:
    """Full NEXMark q5 (hot items) end-to-end as a WATERMARKED APPEND
    stream; returns the hot-items DataFrame read lazily from the result
    sink — nothing is collected to the driver.

    Shape: the hopping per-auction counts are the stateful operator in
    append mode — each (window, auction) count emits exactly once, when
    the watermark passes the window's end, and its state row is evicted
    (state is bounded by the windows inside the lateness budget × active
    auctions, unlike the earlier complete-mode formulation whose state
    held EVERY window forever). Finalized counts land in a parquet file
    sink; the per-window max + join-on-aggregate then runs as one batch
    plan over the sink — flock executes the same q5 SQL against each
    collected window's state (benchmarks/src/nexmark/query/q5.sql); here
    the watermark is the collect step and the hot-items join reads only
    finalized windows. Keeps ALL tied max auctions, like the batch/oracle
    formulation.

    A finite replay needs the flush sentinel (write_flush_epoch) to push
    the frontier past the tail windows; the sentinel flows through the
    streaming plan (a pre-agg filter would be pushed below the watermark
    node and stall the frontier) and its auction=-1 count is dropped
    from the drained result.
    """
    _flush(spark, flush_advance_s, (bids_path, _BIDS))
    stream = _replay(spark, bids_path, files_per_trigger)
    # NO sentinel filter in the streaming plan: Catalyst pushes a
    # deterministic key filter below the EventTimeWatermark node, and a
    # filtered-out sentinel never advances the frontier — the append-mode
    # agg would then hold its tail windows in state forever (the q8
    # join-input rule). The sentinel flows through as an auction=-1 count
    # in a far-future window and is dropped from the drained RESULT.
    counts = hopping_agg(stream, "b_date_time", "auction", watermark=delay).select(
        F.col("win_start").alias("starttime"), "auction", F.col("cnt").alias("num")
    )
    finalized = _drain(
        counts,
        checkpoint=checkpoint,
        out=result_path or f"{checkpoint}-out",
        timeout_s=timeout_s,
        metrics=metrics,
        crash_after_s=crash_after_s,
    ).where(F.col("auction") >= 0)
    maxes = finalized.groupBy("starttime").agg(F.max("num").alias("maxn"))
    return (
        finalized.join(maxes, "starttime")
        .where(F.col("num") >= F.col("maxn"))
        .select("auction", "num", "starttime")
    )


def run_nexmark_q7_stream(
    spark: SparkSession,
    bids_path: str,
    *,
    checkpoint: str,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
    delay: str = "600 seconds",
    flush_advance_s: int = 3_600,
    result_path: str | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Full NEXMark q7 (highest bid per tumbling window) as a WATERMARKED
    APPEND stream; returns the winning-bid rows as a lazily-computed
    DataFrame — nothing is collected to the driver.

    The stateful operator is the per-window MAX(price) in append mode:
    one state row per open window, emitted and EVICTED when the watermark
    passes the window (the earlier complete-mode form re-emitted every
    window each batch and kept all of them in state). Finalized maxes
    land in a parquet file sink; the winners are recovered by one batch
    join of the replayed bids against the tiny finalized-maxes table
    (Catalyst broadcasts it), ties included — flock's per-window firing
    of the q7 SQL (benchmarks/src/nexmark/query/q7.sql). The drained
    result equals the batch q7 exactly.
    """
    _flush(spark, flush_advance_s, (bids_path, _BIDS))
    stream = _replay(spark, bids_path, files_per_trigger)
    # Sentinel flows THROUGH the agg (the q5/q8 watermark-pushdown rule):
    # it maxes only its own far-future window, which the join-back below
    # cannot match (the batch bid side drops sentinels).
    maxes = (
        _with_event_time(stream, "b_date_time")
        .withWatermark("b_date_time", delay)
        .groupBy(F.window("b_date_time", "10 seconds"))
        .agg(F.max("price").alias("maxprice"))
        .select(F.col("window.start").alias("win_start"), "maxprice")
    )
    out = result_path or f"{checkpoint}-out"
    finalized = _drain(
        maxes, checkpoint=checkpoint, out=out, timeout_s=timeout_s, metrics=metrics
    )
    bids = drop_flush_sentinels(
        spark.read.parquet(bids_path), ["auction", "bidder"]
    )
    bids = (
        bids.drop("epoch")
        .withColumn("b_date_time", F.col("b_date_time").cast("timestamp"))
        .withColumn("w", F.window("b_date_time", "10 seconds"))
    )
    winners = bids.join(
        finalized,
        (bids["w"]["start"] == finalized["win_start"])
        & (bids["price"] == finalized["maxprice"]),
    ).select("auction", "price", "bidder", "b_date_time")
    # Materialize the (small) winners DISTRIBUTED into the result area
    # and return a read over that: the join's bids scan captured the
    # replay dir's file listing, and a LATER flush of the same dir
    # (another runner call) dynamic-overwrites the sentinel part-file the
    # listing references — a lazily-returned join would then crash at
    # action time with FILE_NOT_EXIST (round-7 review finding). Nothing
    # crosses the driver; the write is winners-sized, not bids-sized.
    winners.write.mode("overwrite").parquet(f"{out}-winners")
    return spark.read.parquet(f"{out}-winners")


def run_nexmark_q11_append_stream(
    spark: SparkSession,
    bids_path: str,
    *,
    checkpoint: str,
    gap_s: int = 10,
    delay: str = "600 seconds",
    flush_advance_s: int = 3_600,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
    result_path: str | None = None,
    metrics: dict | None = None,
    crash_after_s: float | None = None,
) -> DataFrame:
    """NEXMark q11 as a WATERMARKED APPEND stream — the operational
    session lane, and the closer semantic match to the reference: its
    session handler *emits a session when the gap times out*
    (flock-function/src/aws/window/session.rs:106-140 drains the
    per-key arena on gap expiry), which is exactly append-mode
    session_window — each session emits ONCE, when the watermark passes
    its end, and its state row is evicted. State is bounded by the
    ACTIVE sessions inside gap + lateness, independent of how many
    sessions the stream has ever produced — unlike a complete-mode
    session_window, whose state and per-batch re-emission grow with the
    total session count (a per-batch O(total-sessions) write at scale).

    Mechanics are the q5/q8 recipe: a finite replay needs the flush
    sentinel (write_flush_epoch) to push the event-time frontier past
    the tail sessions, and the sentinel must flow THROUGH the streaming
    aggregation — a pre-agg key filter is deterministic, so Catalyst
    would push it below the EventTimeWatermark node and the filtered
    sentinel would never advance the frontier. The sentinel's own
    bidder=-1 session sits unexpired in state (it IS the frontier) and
    is dropped from the drained result. Finalized sessions land in an
    append-mode parquet file sink; nothing crosses the driver.

    With the sentinel advancing the watermark past every real session's
    end + gap, the drained result equals the batch q11 exactly — the
    stream==batch test pins this, and ``metrics`` records eviction
    (final state rows ≈ 1 sentinel session, not the peak).
    """
    _flush(spark, flush_advance_s, (bids_path, _BIDS))
    stream = _replay(spark, bids_path, files_per_trigger)
    sessions = session_agg(
        stream, "b_date_time", "bidder", gap=f"{gap_s} seconds", watermark=delay
    ).select("bidder", F.col("cnt").alias("bid_count"), "starttime", "endtime")
    return _drain(
        sessions,
        checkpoint=checkpoint,
        out=result_path or f"{checkpoint}-out",
        timeout_s=timeout_s,
        metrics=metrics,
        crash_after_s=crash_after_s,
    ).where(F.col("bidder") >= 0)


def _q8_windowed_sides(
    spark: SparkSession,
    persons_path: str,
    auctions_path: str,
    *,
    size: str,
    watermark: str,
    files_per_trigger: int,
):
    """Shared q8 scaffolding: person/auction replays with event time,
    watermark and the tumbling-window column — the inner and outer q8
    variants differ only in join type and output projection, so the
    stream setup lives once."""
    ps = _replay(spark, persons_path, files_per_trigger)
    au = _replay(spark, auctions_path, files_per_trigger)
    # NO sentinel filter on the join inputs: Catalyst pushes a
    # deterministic key filter below the EventTimeWatermark node, and a
    # filtered-out sentinel never advances the frontier — the append-mode
    # outer join would then hold its tail windows in state forever.
    # Sentinels flow THROUGH the join and are dropped from the drained
    # RESULT (both q8 variants filter post-join).
    ps = (
        _with_event_time(ps, "p_date_time")
        .withWatermark("p_date_time", watermark)
        .withColumn("w", F.window("p_date_time", size))
    )
    au = (
        _with_event_time(au, "a_date_time")
        .withWatermark("a_date_time", watermark)
        .withColumn("w", F.window("a_date_time", size))
    )
    return ps, au


def run_nexmark_q8_stream(
    spark: SparkSession,
    persons_path: str,
    auctions_path: str,
    *,
    checkpoint: str,
    size_s: int = 86_400,
    watermark: str = "30 days",
    files_per_trigger: int = 15,
    timeout_s: int = 300,
    metrics: dict | None = None,
) -> DataFrame:
    """Full NEXMark q8 (new users who opened auctions) as a genuine
    STREAM-STREAM join: person and auction replays each get event-time
    watermarks and a tumbling-window column, and join on
    (p_id = seller AND same window) — the window-equality join pattern,
    where matching is bounded per window and watermarks let Spark evict
    both sides' state one window after the event-time frontier passes
    (flock executes the same join per collected window,
    benchmarks/src/nexmark/query/q8.sql; Spark subsumes the collect step
    with join state). Inner-join matches emit incrementally (append
    mode); the final DISTINCT collapses one row per (person, window) the
    way the batch formulation's GROUP BY sides do, so the drained result
    equals batch ``nexmark_q8`` exactly.

    ``watermark`` bounds join state: at production scale set it to the
    real lateness budget (state = two windows' worth of keys); the
    default is generous because the fixture replay spans ~30 days of
    event time in a handful of micro-batches.
    """
    ps, au = _q8_windowed_sides(
        spark,
        persons_path,
        auctions_path,
        size=f"{size_s} seconds",
        watermark=watermark,
        files_per_trigger=files_per_trigger,
    )
    joined = ps.join(
        au, (ps["p_id"] == au["seller"]) & (ps["w"] == au["w"])
    ).select("p_id", "name", ps["w"]["start"].alias("starttime"))
    # post-drain sentinel drop (a flushed dir's p_id=-1/seller=-1 rows
    # can MATCH each other when their far-future windows align)
    return (
        _drain(
            joined,
            checkpoint=checkpoint,
            out=f"{checkpoint}-out",
            timeout_s=timeout_s,
            metrics=metrics,
        )
        .where(F.col("p_id") >= 0)
        .distinct()
    )


def run_nexmark_q8_outer_stream(
    spark: SparkSession,
    persons_path: str,
    auctions_path: str,
    *,
    checkpoint: str,
    size_s: int = 10,
    delay: str = "600 seconds",
    flush_advance_s: int = 3_600,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
    how: str = "left_outer",
) -> DataFrame:
    """q8's OUTER variants (``how`` = "left_outer" | "full_outer"): every
    new person emits once per window with the matching seller or a NULL
    auction side; full-outer additionally emits sellers who opened an
    auction with no matching person row (NULL person side). Stream-stream
    outer joins are a capability class the reference does not have at all
    (its DataFusion vintage executes only the inner q8 per collected
    window, queries/q8.rs:33-44; no outer joins appear anywhere in its
    query set). Output: DISTINCT (p_id, name, seller, starttime) rows —
    NULL side marks the unmatched direction.

    Mechanics: matched pairs emit incrementally like the inner join;
    UNMATCHED rows are held in the join state until the watermark passes
    their window, then emit with the other side NULL — which is why both
    sides MUST be watermarked and why a finite replay needs the flush
    sentinel (write_flush_epoch) to push the frontier past the tail
    windows; without it the last windows' unmatched rows would sit in
    state forever. Sentinel rows carry negative keys and are dropped
    after the drain. State is bounded to ~one window per side past the
    frontier, the same profile as the inner form.
    """
    _flush(spark, flush_advance_s, (persons_path, _PERSONS), (auctions_path, _AUCTIONS))
    ps, au = _q8_windowed_sides(
        spark,
        persons_path,
        auctions_path,
        size=f"{size_s} seconds",
        watermark=delay,
        files_per_trigger=files_per_trigger,
    )
    joined = ps.join(
        au, (ps["p_id"] == au["seller"]) & (ps["w"] == au["w"]), how
    ).select(
        "p_id",
        "name",
        au["seller"].alias("seller"),
        F.coalesce(ps["w"]["start"], au["w"]["start"]).alias("starttime"),
    )
    df = _drain(
        joined, checkpoint=checkpoint, out=f"{checkpoint}-out", timeout_s=timeout_s
    )
    return drop_flush_sentinels(df, ["p_id", "seller"]).distinct()


def run_nexmark_q13_stream(
    spark: SparkSession,
    bids_path: str,
    side_input: DataFrame,
    *,
    checkpoint: str,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
) -> DataFrame:
    """Full NEXMark q13 (bounded side-input join) as a stream: every bid
    broadcast-joins a STATIC side-input table on MOD(auction, 1000) — the
    stream-static join class (flock benchmarks/src/nexmark/query/q13.sql
    ships the side input as a payload to every worker; Spark's broadcast
    of a static DataFrame is the same distribution, done by the engine).
    Stateless per micro-batch: no watermark, no state store — the only
    retained object is the broadcast table, so this scales with the
    side input's size, not the stream's history.
    """
    stream = _replay(spark, bids_path, files_per_trigger)
    joined = stream.join(
        F.broadcast(side_input), F.expr("MOD(auction, 1000)") == side_input["key"]
    ).select("auction", "bidder", "price", "b_date_time", "value")
    return _drain(
        joined, checkpoint=checkpoint, out=f"{checkpoint}-out", timeout_s=timeout_s
    )


def run_nexmark_q3_stream(
    spark: SparkSession,
    persons_path: str,
    auctions_path: str,
    *,
    checkpoint: str,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
) -> DataFrame:
    """Full NEXMark q3 (local item suggestion) as a pure INCREMENTAL
    equi-join stream — the one declared join class with no window in its
    semantics: every category-10 auction must match every OR/ID/CA person
    regardless of when either arrived, so both join-state stores are
    retained for the life of the stream (exactly the reference's
    incremental hash-join formulation, flock
    benchmarks/src/nexmark/query/q3.sql, where the join state likewise
    only grows). Spark supports the unbounded inner equi-join in append
    mode; matches emit in the micro-batch where the later side arrives.

    Scale posture: the OR-filter on persons and category filter on
    auctions are pushed BELOW the join (visible as filters above each
    scan in the plan), so the retained state is the filtered minority of
    each stream, not the raw firehose. If business semantics ever allow
    a lateness bound, adding two watermarks + a time-range condition
    turns this into the bounded-state q8 shape; without one, unbounded
    state is the honest cost of q3's semantics — on a cluster, back it
    with the RocksDB state store (session.configure_state_store).
    """
    ps = _replay(spark, persons_path, files_per_trigger)
    au = _replay(spark, auctions_path, files_per_trigger)
    ps = ps.where(F.col("state").isin("OR", "ID", "CA"))
    au = au.where(F.col("category") == 10)
    joined = au.join(ps, au["seller"] == ps["p_id"]).select(
        "name", "city", "state", "a_id"
    )
    return _drain(
        joined, checkpoint=checkpoint, out=f"{checkpoint}-out", timeout_s=timeout_s
    )


#: Reserved epoch partition of the flush rows (write_flush_epoch,
#: write_keyed_flush_epoch): past every real epoch, so it replays last.
_FLUSH_EPOCH = 999_999


def write_flush_epoch(
    spark: SparkSession,
    data_dir: str,
    ts_col: str,
    advance_s: int,
    neg_keys: list[str],
) -> None:
    """Append one far-future sentinel row to an epoch-replay dir.

    Append-mode windowed aggregations only emit a window once the
    watermark passes its end; on a FINITE replay the watermark stalls at
    (max event time − delay), so the final windows would never emit. One
    sentinel row per input stream, timestamped ``advance_s`` past the
    stream's max event time, pushes the frontier over every real window
    at drain time. Its key columns are negative so it can never join or
    form a real aggregate — it exists only to advance the watermark.
    (The reference never faces this: flock closes windows by wall-clock
    sweep, flock-function/src/aws/window/session.rs:106-140; watermarks
    are the event-time replacement for that sweep.)

    Idempotent per dir: the sentinel lands in a reserved epoch partition
    that is overwritten, not appended, on re-use, and its time comes from
    the real epochs only. A call that finds that same sentinel already in
    place — one row, same time and keys, written after every data file so
    the replay still reads it last — writes nothing. The dir's Hadoop-FS
    listing (path, length, modification time of every file) is recorded
    in the session store after each write or check; a call that finds
    the listing unchanged starts no Spark job at all.
    """
    key = ("flush_listing", data_dir, ts_col, advance_s, *neg_keys)
    seen = catalog.entry(spark, *key)
    if seen is not None and seen.value == _listing(spark, data_dir):
        return
    base = spark.read.parquet(data_dir)
    flush = F.col("epoch") == _FLUSH_EPOCH
    mtime = F.col("_metadata.file_modification_time")
    ts = F.col(ts_col)
    shifted = F.timestamp_add("SECOND", F.lit(advance_s), ts)
    same = (
        (F.count_if(flush) == 1)
        & (F.max(F.when(flush, ts)) == F.max(F.when(~flush, shifted)))
        & (F.min(F.when(flush, mtime)) >= F.max(F.when(~flush, mtime)))
    )
    for k in neg_keys:
        same &= F.max(F.when(flush, F.col(k))) == -1
    if not base.agg(same).first()[0]:
        latest = base.where(~flush).orderBy(ts.desc()).limit(1)
        sentinel = latest.withColumn(ts_col, shifted).withColumn(
            "epoch", F.lit(_FLUSH_EPOCH).cast("long")
        )
        for c in neg_keys:
            sentinel = sentinel.withColumn(c, F.lit(-1).cast(dict(latest.dtypes)[c]))
        (
            sentinel.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(data_dir)
        )
    catalog.store(spark, key, _listing(spark, data_dir))


def _listing(spark: SparkSession, path: str) -> tuple:
    """(path, length, modification time) of every file under ``path``,
    read through Hadoop FS — no Spark job."""
    fs, p = _hadoop_path(spark, path)
    files = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        files.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(files))


def write_keyed_flush_epoch(
    spark: SparkSession,
    data_dir: str,
    key_col: str,
    flush_col: str = "is_flush",
) -> None:
    """Append ONE flush row per distinct key (``flush_col`` = true) in a
    reserved final epoch partition — the explicit per-key sweep
    ``stateful_proc_window_count_legacy`` consumes to close each key's
    open processing-time window on a finite replay (write_flush_epoch's
    watermark sentinel can't serve here: proc-time state has no
    watermark, and a legacy-API timeout only fires if yet another batch
    arrives). Idempotent per dir: the reserved partition is overwritten.
    Written AFTER the data epochs, so the file source's
    modification-time ordering replays it last."""
    base = spark.read.parquet(data_dir)
    flush = (
        base.where(~F.col(flush_col))
        .dropDuplicates([key_col])
        .withColumn(flush_col, F.lit(True))
        .withColumn("epoch", F.lit(_FLUSH_EPOCH).cast("long"))
    )
    (
        flush.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(data_dir)
    )


def run_nexmark_q12_proc_stream(
    spark: SparkSession,
    bids_path: str,
    *,
    checkpoint: str,
    window_s: int = 1,
    files_per_trigger: int = 1,
    timeout_s: int = 300,
    result_path: str | None = None,
    metrics: dict | None = None,
    crash_after_s: float | None = None,
) -> DataFrame:
    """NEXMark q12 end-to-end as a stream on the LEGACY stateful API:
    replay → stateful_proc_window_count_legacy → append-mode parquet
    sink. The replay dir must carry an ``is_flush`` column and a
    write_keyed_flush_epoch partition (the sweep that closes the tail
    windows). Emitted windows are wall-clock-placed, so the checkable
    contract is the partition invariant: per-key window counts sum to
    the per-key input count — the degenerate lane's q12 cells pin
    exactly that."""
    stream = _replay(spark, bids_path, files_per_trigger)
    res = stateful_proc_window_count_legacy(
        stream, "bidder", window_s=window_s
    ).select(
        F.col("key").cast("long").alias("key"), "win_start_ms", "n"
    )
    return _drain(
        res,
        checkpoint=checkpoint,
        out=result_path or f"{checkpoint}-out",
        timeout_s=timeout_s,
        metrics=metrics,
        crash_after_s=crash_after_s,
    )


def _winning_bid_join(
    spark: SparkSession,
    bids_path: str,
    auctions_path: str,
    *,
    max_dur_s: int,
    delay: str,
    files_per_trigger: int,
) -> DataFrame:
    """The q4/q6/q9 winning-bid core as a stream-stream time-interval
    join: bid ⋈ auction on the equi key plus
    ``b_date_time ∈ [a_date_time, a_date_time + max_dur_s]`` — the
    two-sided bound that lets Spark evict join state — with the exact
    ``b_date_time <= expires`` residual riding the same join (the
    generator caps auction duration under ``max_dur_s``, so the interval
    bound is a superset and drops nothing)."""
    bi = _replay(spark, bids_path, files_per_trigger)
    au = _replay(spark, auctions_path, files_per_trigger)
    bi = _with_event_time(bi, "b_date_time").withWatermark("b_date_time", delay)
    au = (
        _with_event_time(au, "a_date_time")
        .withColumn("expires", F.col("expires").cast("timestamp"))
        .withWatermark("a_date_time", delay)
    )
    return bi.join(
        au,
        (bi["auction"] == au["a_id"])
        & (bi["b_date_time"] >= au["a_date_time"])
        & (
            bi["b_date_time"]
            <= au["a_date_time"] + F.expr(f"INTERVAL {max_dur_s} SECONDS")
        )
        & (bi["b_date_time"] <= au["expires"]),
    ).select(
        au["a_id"],
        au["category"],
        au["seller"],
        au["a_date_time"],
        bi["price"],
        bi["bidder"],
        bi["b_date_time"],
    )


def nexmark_q4_stream(
    spark: SparkSession,
    bids_path: str,
    auctions_path: str,
    *,
    window_s: int = 10,
    max_dur_s: int = 25,
    delay: str = "600 seconds",
    files_per_trigger: int = 15,
) -> DataFrame:
    """NEXMark q4 (avg winning price per category) as a fully incremental
    append-mode pipeline of THREE chained stateful operators:

    1. stream-stream time-interval join — bid ⋈ auction on the equi key
       plus ``b_date_time ∈ [a_date_time, a_date_time + max_dur_s]``,
       which gives Spark a state-eviction bound on both sides; the exact
       ``b_date_time <= expires`` residual rides the same join (the
       generator caps auction duration under ``max_dur_s``, so the
       interval bound is a superset and drops nothing);
    2. windowed MAX(price) per (auction, category) — every auction's bids
       fall inside one ``window(a_date_time)`` bucket (auctions live
       < max_dur_s, bids join only within that), so the per-window max IS
       the winning bid; the window exists to let the watermark finalize
       and evict per-auction state;
    3. chained windowed SUM/COUNT per category over the finalized maxes
       (``window_time``-anchored — Spark's chained-aggregation form).

    Emits (win_start, category, sum_final, n_auctions) partial rows as
    watermarks close windows; ``run_nexmark_q4_stream`` folds them to the
    declared per-category average. This is the append/watermark
    formulation of flock's collect-then-fire q4 (queries/q4.rs): state is
    bounded by (watermark + max_dur_s) worth of auctions however long the
    stream runs — the shape that survives an unbounded deployment.
    """
    size = f"{window_s} seconds"
    joined = _winning_bid_join(
        spark,
        bids_path,
        auctions_path,
        max_dur_s=max_dur_s,
        delay=delay,
        files_per_trigger=files_per_trigger,
    ).select("a_id", "category", "a_date_time", "price")
    per_auction = joined.groupBy(
        F.window("a_date_time", size), "a_id", "category"
    ).agg(F.max("price").alias("final"))
    return (
        per_auction.groupBy(
            F.window(F.window_time("window"), size), "category"
        )
        .agg(
            F.sum("final").alias("sum_final"),
            F.count("*").alias("n_auctions"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "category",
            "sum_final",
            "n_auctions",
        )
    )


def run_nexmark_q4_stream(
    spark: SparkSession,
    bids_path: str,
    auctions_path: str,
    *,
    checkpoint: str,
    window_s: int = 10,
    max_dur_s: int = 25,
    delay: str = "600 seconds",
    flush_advance_s: int = 3_600,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
    metrics: dict | None = None,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive :func:`nexmark_q4_stream` to completion over a bounded replay
    and fold the emitted per-(window, category) partials into the declared
    per-category average — the exact arithmetic the batch q4 performs,
    just distributed over watermark-finalized window partials. Appends a
    flush sentinel to both replay dirs first (see write_flush_epoch) so
    every real window closes by drain time.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for THIS
    query's lifetime (restored after; the count is baked into the fresh
    checkpoint at first batch). The chain holds SIX state stores per
    partition — the symmetric hash join keeps 4 (left/right x keyToValue/
    keyToNumValues in state format v2), plus one per windowed agg — and
    each store pays a fixed per-commit cost per micro-batch on the
    default in-heap provider, so state partitioning should track
    PER-BATCH VOLUME, not total cores: r15 profiling measured the lane's
    join commit time 17x lower (186s -> 11s summed) and the wall ~1.9x
    faster at 8 partitions than at local[32]'s default 32, with
    per-store state at bench scale under 500 rows. At 100 TB the same
    knob turns the other way: size it so each store's state fits its
    executor share."""
    _flush(spark, flush_advance_s, (bids_path, _BIDS), (auctions_path, _AUCTIONS))
    shuffle_key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(shuffle_key)
    if state_partitions is not None:
        spark.conf.set(shuffle_key, str(state_partitions))
    try:
        partials = _drain(
            nexmark_q4_stream(
                spark,
                bids_path,
                auctions_path,
                window_s=window_s,
                max_dur_s=max_dur_s,
                delay=delay,
                files_per_trigger=files_per_trigger,
            ),
            checkpoint=checkpoint,
            out=f"{checkpoint}-out",
            timeout_s=timeout_s,
            metrics=metrics,
        )
    finally:
        if state_partitions is not None:
            spark.conf.set(shuffle_key, prev_parts)
    return partials.groupBy("category").agg(
        (F.sum("sum_final").cast("double") / F.sum("n_auctions")).alias("avg_final")
    )


def _best_bid(joined: DataFrame, window_s: int, *keys: str) -> DataFrame:
    """The winning bid per auction window and ``keys``: ONE windowed
    ``MAX(struct(...))`` argmax whose struct encodes the batch q9's tie
    order — price DESC, then b_date_time ASC, then bidder ASC
    (queries/q9.sql:13) — as (price, -unix_micros(ts), -bidder). Emits
    ``keys`` + price, bid_us (the bid time in epoch µs) and bidder."""
    best = F.max(
        F.struct(
            F.col("price"),
            (-F.unix_micros("b_date_time")).alias("neg_ts"),
            (-F.col("bidder")).alias("neg_bidder"),
        )
    ).alias("best")
    return (
        joined.groupBy(F.window("a_date_time", f"{window_s} seconds"), *keys)
        .agg(best)
        .select(
            *keys,
            F.col("best.price").alias("price"),
            (-F.col("best.neg_ts")).alias("bid_us"),
            (-F.col("best.neg_bidder")).alias("bidder"),
        )
    )


def nexmark_q9_stream(
    spark: SparkSession,
    bids_path: str,
    auctions_path: str,
    *,
    window_s: int = 10,
    max_dur_s: int = 25,
    delay: str = "600 seconds",
    files_per_trigger: int = 15,
) -> DataFrame:
    """NEXMark q9 (the winning BID row per auction) as an incremental
    append pipeline: the winning-bid interval join followed by ONE
    windowed ``MAX(struct(...))`` argmax per auction (_best_bid).

    The struct MAX picks the identical winner the batch ROW_NUMBER
    formulation ranks first, so the whole query needs no per-epoch
    re-rank: per-auction state is one
    struct, finalized and evicted when the watermark passes the
    auction's window. Like the batch q9, only NARROW columns flow
    through the stateful stage; wide auction attributes join back onto
    the few winners afterwards (run_nexmark_q9_stream does it for the
    replayed fixture).
    """
    joined = _winning_bid_join(
        spark,
        bids_path,
        auctions_path,
        max_dur_s=max_dur_s,
        delay=delay,
        files_per_trigger=files_per_trigger,
    )
    return _best_bid(joined, window_s, "a_id").select(
        "a_id",
        "price",
        F.timestamp_micros("bid_us").alias("bid_date_time"),
        "bidder",
    )


def run_nexmark_q9_stream(
    spark: SparkSession,
    bids_path: str,
    auctions_path: str,
    *,
    checkpoint: str,
    window_s: int = 10,
    max_dur_s: int = 25,
    delay: str = "600 seconds",
    flush_advance_s: int = 3_600,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
) -> DataFrame:
    """Drain :func:`nexmark_q9_stream` over a bounded replay (flush
    sentinels close the tail windows) and join the wide auction
    attributes back onto the winners — the same narrow-rank/wide-join
    split the batch q9 plans."""
    _flush(spark, flush_advance_s, (bids_path, _BIDS), (auctions_path, _AUCTIONS))
    winners = nexmark_q9_stream(
        spark,
        bids_path,
        auctions_path,
        window_s=window_s,
        max_dur_s=max_dur_s,
        delay=delay,
        files_per_trigger=files_per_trigger,
    )
    won = _drain(
        winners, checkpoint=checkpoint, out=f"{checkpoint}-out", timeout_s=timeout_s
    )
    auctions = (
        spark.read.parquet(auctions_path)
        .drop("epoch")
        .where(F.col("a_id") >= 0)  # exclude the flush sentinel
        .withColumn("a_date_time", F.col("a_date_time").cast("timestamp"))
        .withColumn("expires", F.col("expires").cast("timestamp"))
        .select("a_id", "item_name", "seller", "category", "a_date_time", "expires")
    )
    return auctions.join(won, "a_id").select(
        "a_id",
        "item_name",
        "seller",
        "category",
        "a_date_time",
        "expires",
        "bidder",
        "price",
        "bid_date_time",
    )


def stateful_last_n_avg(
    stream: DataFrame,
    key_col: str,
    val_col: str,
    ts_col: str,
    id_col: str,
    n: int = 11,
) -> DataFrame:
    """Per-key average over the last ``n`` entries ordered by (ts, id) —
    q6's frame semantics as keyed state. The state is the top-``n``
    (ts, id, value) triples per key; membership is defined by the ORDER,
    not by arrival, so merging batches in any order yields the same
    state — the final emission is deterministic under replay and equals
    the batch frame average at each key's last row.
    """
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("avg_last", DoubleType()),
            StructField("n_in_frame", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ts", ArrayType(LongType())),
            StructField("ids", ArrayType(LongType())),
            StructField("vals", ArrayType(LongType())),
        ]
    )

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts, ids, vals = (list(x) for x in state.get)
        else:
            ts, ids, vals = [], [], []
        entries = list(zip(ts, ids, vals))
        for pdf in batches:
            entries.extend(
                (int(t), int(i), int(v))
                for t, i, v in zip(pdf[ts_col], pdf[id_col], pdf[val_col])
            )
        entries = sorted(entries, reverse=True)[:n]
        state.update(tuple(list(c) for c in zip(*entries)))
        avg = sum(e[2] for e in entries) / len(entries)
        yield pd.DataFrame(
            {"key": [key[0]], "avg_last": [avg], "n_in_frame": [len(entries)]}
        )

    return (
        stream.withColumn("key", F.col(key_col).cast("long"))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_nexmark_q6_stream(
    spark: SparkSession,
    bids_path: str,
    auctions_path: str,
    *,
    checkpoint: str,
    winners_path: str,
    window_s: int = 10,
    max_dur_s: int = 25,
    delay: str = "600 seconds",
    flush_advance_s: int = 3_600,
    files_per_trigger: int = 15,
    timeout_s: int = 300,
) -> DataFrame:
    """NEXMark q6 (avg price of each seller's last 10 closed auctions) as
    a TWO-QUERY streaming topology — the staged-pipeline shape production
    deployments run between broker topics:

    1. the winning-bid pipeline (interval join + windowed struct-argmax,
       the q9 stages) APPENDS finalized winners to a parquet channel
       under its own checkpoint;
    2. a second streaming query reads the channel and maintains the
       per-seller last-11 frame (ROWS BETWEEN 10 PRECEDING AND CURRENT
       ROW over win_ts, a_id — queries/q6_v2.rs:29-45) in keyed state
       via :func:`stateful_last_n_avg`.

    Returns one row per seller: the frame average at the seller's latest
    winner — equal to the batch ``nexmark_q6``'s final row per seller.
    State is bounded at 11 entries per seller however long the stream
    runs; the channel is replayable, so the second query recovers
    independently of the first (two checkpoints, two state stores).
    """
    _flush(spark, flush_advance_s, (bids_path, _BIDS), (auctions_path, _AUCTIONS))
    joined = _winning_bid_join(
        spark,
        bids_path,
        auctions_path,
        max_dur_s=max_dur_s,
        delay=delay,
        files_per_trigger=files_per_trigger,
    )
    winners = _best_bid(joined, window_s, "a_id", "seller").drop("bidder")
    _drain(
        winners,
        checkpoint=f"{checkpoint}-winners",
        out=winners_path,
        timeout_s=timeout_s,
    )
    finals: dict = {}
    if _has_parquet_files(spark, winners_path):
        wstream = _replay(spark, winners_path, files_per_trigger)
        frame = _drain(
            stateful_last_n_avg(wstream, "seller", "price", "bid_us", "a_id", n=11),
            checkpoint=f"{checkpoint}-frame",
            mode="update",
            timeout_s=timeout_s,
        )
        # update mode re-emits per batch; the last emission per key wins
        for r in frame.collect():
            finals[r["key"]] = (r["avg_last"], r["n_in_frame"])
    return spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in finals.items()],
        "seller BIGINT, avg_last10 DOUBLE, n_in_frame BIGINT",
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "30 seconds",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins, state bounded
    by the watermark (keys older than it are evicted — the only way dedup
    state stays finite on an unbounded stream). The streaming face of
    operators/dedup.py's exact dedup; flock has no equivalent (its epochs
    are assumed unique), so this is beyond-parity."""
    return (
        _with_event_time(stream, ts_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(keys)
    )


def ysb_campaign_stream(
    spark: SparkSession,
    events_path: str,
    campaigns: DataFrame,
    *,
    size: str = "10 seconds",
    files_per_trigger: int = 15,
) -> DataFrame:
    """YSB end-to-end as a stream (benchmarks/src/ysb/ysb.sql semantics with
    the benchmark's 10 s campaign windows): filter ad events to views,
    broadcast-join the static ad→campaign map (stream-static join — the
    side input never shuffles the stream), tumbling count per campaign."""
    stream = _replay(spark, events_path, files_per_trigger)
    return (
        _with_event_time(stream, "event_time")
        .where(F.col("event_type") == "view")
        .join(F.broadcast(campaigns), F.col("ad_id") == F.col("c_ad_id"))
        .groupBy(F.window("event_time", size), F.col("campaign_id"))
        .agg(F.count("*").alias("n_views"))
        .select(
            F.col("window.start").alias("win_start"), "campaign_id", "n_views"
        )
    )


# ---------------------------------------------------------------------------
# Sinks (flock/src/datasink/mod.rs:47-72 → Spark-native equivalents)
# ---------------------------------------------------------------------------


def run_available_now(
    result: DataFrame,
    *,
    checkpoint: str,
    mode: str = "append",
    timeout_s: int = 300,
    metrics: dict | None = None,
) -> list:
    """Drain a bounded replay through the memory sink; return the rows.

    availableNow processes every pending file then stops — the batch-exact
    replay mode the oracle tests rely on. ``metrics``, when given,
    receives the drained query's state-operator summary
    (capture_state_metrics) — the stress lanes use it to put numbers on
    every "state is bounded" claim.
    """
    return _drain(
        result, checkpoint=checkpoint, mode=mode, timeout_s=timeout_s, metrics=metrics
    ).collect()


def noop_sink(
    result: DataFrame, *, checkpoint: str, mode: str = "append"
) -> StreamingQuery:
    """Blackhole sink (flock Blackhole parity) — executes, discards."""
    return (
        result.writeStream.format("noop")
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def partitioned_file_sink(
    result: DataFrame, path: str, *, checkpoint: str, fmt: str = "csv"
) -> StreamingQuery:
    """q10's dt/hm-partitioned file sink
    (flock/src/datasource/nexmark/queries/q10.sql:10-31): adds dt/hm from
    the event time and writes partitioned files."""
    ts_col = "b_date_time" if "b_date_time" in result.columns else "ts"
    out = result.withColumn("dt", F.date_format(ts_col, "yyyy-MM-dd")).withColumn(
        "hm", F.date_format(ts_col, "HH:mm")
    )
    return (
        out.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("dt", "hm")
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_sink(result: DataFrame, fn, *, checkpoint: str) -> StreamingQuery:
    """foreachBatch sink — the DynamoDB/SQS-style per-batch escape hatch."""
    return (
        result.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _latest_per_key(df: DataFrame, keys: list[str], seq_col: str) -> DataFrame:
    """Max-seq winner per key — the shared merge rule of upsert_sink and
    cdc_sink (one definition, so the sinks' convergence semantics cannot
    drift apart). ``seq_col`` must totally order each key's rows; ties
    fall to arrival order."""
    w = "(PARTITION BY " + ", ".join(keys) + f" ORDER BY {seq_col} DESC)"
    return (
        df.withColumn("_rn", F.expr(f"ROW_NUMBER() OVER {w}"))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_sink(
    stream: DataFrame,
    path: str,
    keys: list[str],
    seq_col: str,
    *,
    checkpoint: str,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Keyed upsert sink: maintain a latest-value-per-key table under
    ``path`` (the DynamoDB-style keyed sink flock declares,
    flock/src/datasink/mod.rs:47-72, done as a real materialized view).

    Scale design: the table is hash-bucketed on the key and each
    micro-batch rewrites ONLY the buckets it touches (dynamic partition
    overwrite) after merging with their current contents — per-batch cost
    scales with the update set, not table size. Within a merge the winner
    per key is the highest ``seq_col`` (arrival order breaks ties), so
    replaying a batch is idempotent — at-least-once delivery converges to
    the same table, which is flock's PROCESSED_WINDOWS idempotence
    expressed as data instead of bookkeeping.
    """

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df.withColumn("_bucket", F.pmod(F.hash(*keys), F.lit(n_buckets)))
        touched = [r["_bucket"] for r in b.select("_bucket").distinct().collect()]
        if not touched:
            return
        # Existence is checked explicitly (Hadoop FS) instead of catching
        # read errors: a transient read failure must PROPAGATE so the
        # micro-batch retries — swallowing it would silently replace every
        # touched bucket with batch-only contents, losing upserted keys.
        fs, hpath = _hadoop_path(spark, path)
        if fs.exists(hpath):
            existing = spark.read.parquet(path).where(F.col("_bucket").isin(touched))
            merged = existing.unionByName(b)
        else:  # first batch: nothing to merge yet
            merged = b
        latest = _latest_per_key(merged, keys, seq_col)
        # Truncate lineage before overwriting the files just read.
        latest = latest.localCheckpoint(eager=True)
        # per-WRITE dynamic overwrite (not a session-global conf toggle,
        # which would race any concurrent writer in the same session)
        (
            latest.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket")
            .parquet(path)
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_sink(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    seq_col: str,
    op_col: str,
    *,
    checkpoint: str,
) -> StreamingQuery:
    """Streaming CDC apply into a versioned snapshot table: the streaming
    form of the ``cdc_merge_apply`` batch plan. Each micro-batch is
    compacted to its net effect per key (highest ``seq_col`` wins),
    merged against the LATEST committed snapshot by the SAME max-seq
    rule, and published as a NEW snapshot behind maintenance's atomic
    pointer commit. Deletes (``op_col = 'D'``) are kept as TOMBSTONES —
    a per-key winner row like any other — so the merge is
    order-insensitive: batches may arrive in any order (the file source
    does not promise epoch order) and the table still converges to the
    per-key global-max-seq row. ``read_cdc_snapshot`` filters tombstones
    for readers; time travel is ``read_version``, recovery ``rollback``:
    a streaming materialized view with history.

    Per-commit cost is a full-snapshot write (this layout's publication
    unit); at 100 TB the same merge runs file-granular — a bucketed/
    clustered layout bounds the rewrite to changed-key files (the
    ``forget_keys`` footer-span bound) under a metadata log
    (Delta/Iceberg) — and tombstones compact away once older than the
    max replay lag (here they are retained: bounded by key cardinality).
    Content converges under at-least-once replay; a replayed batch can
    allocate an extra version with identical content, and the pointer
    still lands on a correct snapshot.

    ``seq_col`` must totally order each key's changes (ties would make
    the winner arrival-dependent) — CDC feeds guarantee exactly this
    (log offset / LSN).
    """
    for col in [*keys, seq_col, op_col]:
        if col not in stream.columns:
            raise ValueError(
                f"cdc_sink: column {col!r} not in stream schema "
                f"{stream.columns} (keys/seq_col/op_col must all exist)"
            )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        from .operators import maintenance

        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # winner(base ∪ batch) == winner(base ∪ winner(batch)): the outer
        # max-seq selection subsumes the per-batch one, so ONE window pass
        # merges raw changes straight into the snapshot.
        committed = maintenance.latest_version(spark, table_path)
        if committed == 0:
            merged = _latest_per_key(batch_df, keys, seq_col)
        else:
            base = maintenance.read_version(spark, table_path, committed)
            # Split merge: snapshot rows whose key the batch never touches
            # pass through a broadcast ANTI join (no shuffle — the batch's
            # distinct key set is the small side by construction), and only
            # the touched subset takes the max-seq window. The outer winner
            # selection subsumes the per-batch one (winner(base ∪ batch) ==
            # winner(base ∪ winner(batch))), so compacting the batch first
            # keeps the window ∝ |batch|, not ∝ |table|.
            # allowMissingColumns: a snapshot seeded by versioned_write
            # from an initial load carries no op/seq columns — they union
            # in as NULL, which the max-seq winner rule (NULLs lose under
            # ORDER BY seq DESC) and the tombstone guard (op IS NULL
            # survives) already handle.
            batch = _latest_per_key(batch_df, keys, seq_col)
            bkeys = batch.select(*keys).distinct()
            untouched = base.join(F.broadcast(bkeys), keys, "left_anti")
            touched = base.join(F.broadcast(bkeys), keys, "left_semi")
            merged = untouched.unionByName(
                _latest_per_key(
                    touched.unionByName(batch, allowMissingColumns=True),
                    keys,
                    seq_col,
                ),
                allowMissingColumns=True,
            )
        maintenance.versioned_write(spark, merged, table_path)

    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_mor_sink(
    stream: DataFrame,
    table_path: str,
    keys: list[str],
    seq_col: str,
    op_col: str,
    *,
    checkpoint: str,
    compact_every: int = 8,
) -> StreamingQuery:
    """Merge-on-read CDC apply — the high-rate lane ``cdc_sink`` is not.

    ``cdc_sink`` publishes a full snapshot per micro-batch (flock's
    publication unit), so per-batch cost is ∝ table size: at a uniform
    552k-change/100k-key stress rate it sustains ~30-38k changes/s with
    most of each batch spent re-reading and re-writing unchanged rows.
    This sink is the LSM answer (Hudi Merge-On-Read / Delta deletion-
    vector shape): each micro-batch appends ONLY its per-key net effect
    (tombstones included) as a delta-log entry ``log/b=<epoch>``; every
    ``compact_every`` entries, one compaction folds base + deltas into a
    new ``versioned_write`` snapshot and clears the consumed entries.
    Per-batch cost is ∝ |batch|; compaction amortizes the table-sized
    work across ``compact_every`` batches.

    Correctness under the streaming contract:
    - idempotent replay: a replayed batch OVERWRITES its own ``b=<epoch>``
      dir; if it was already compacted away, re-merging it is a no-op
      under the max-seq rule (same winners).
    - crash between snapshot commit and log cleanup leaves consumed
      entries behind; re-merging them later is idempotent for the same
      reason. Readers only see log dirs with a ``_SUCCESS`` marker.
    - order-insensitive: winners are global-max-seq over snapshot ∪ log,
      exactly ``cdc_sink``'s rule (shared ``_latest_per_key``).

    ``read_cdc_mor`` serves the merged live view at any instant; after
    the stream drains, un-compacted tail entries simply merge at read
    time (run ``compact_cdc_mor`` to fold them eagerly).

    ``op_col`` is consumed by the read/compaction side's tombstone rule,
    not per batch — validated against the stream schema HERE so a wrong
    column name fails at sink construction, not as silent misbehavior at
    first read (round-6 review finding).
    """
    for col in [*keys, seq_col, op_col]:
        if col not in stream.columns:
            raise ValueError(
                f"cdc_mor_sink: column {col!r} not in stream schema "
                f"{stream.columns} (keys/seq_col/op_col must all exist)"
            )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # RAW append — zero shuffle and ONE job in the hot path (no
        # isEmpty pre-flight: an empty batch writes an empty entry that
        # unions away at compaction, cheaper than a probe job per batch).
        # The global max-seq winner rule at compaction/read subsumes
        # per-batch netting (winner(base ∪ batch) == winner(base ∪
        # winner(batch))), so netting here would spend a shuffle to
        # shrink the log by only the batch's internal duplicate keys.
        batch_df.write.mode("overwrite").parquet(f"{table_path}/log/b={epoch_id}")
        if len(_mor_log_dirs(spark, table_path)) >= compact_every:
            compact_cdc_mor(spark, table_path, keys, seq_col)

    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _mor_log_dirs(spark: SparkSession, table_path: str) -> list[str]:
    """Committed (``_SUCCESS``-marked) delta-log entry dirs, a pure
    filesystem listing — the metadata-log read of a table format."""
    fs, log = _hadoop_path(spark, f"{table_path}/log")
    if not fs.exists(log):
        return []
    dirs = []
    for st in fs.listStatus(log):
        p = st.getPath()
        if p.getName().startswith("b=") and fs.exists(
            spark._jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS")
        ):
            dirs.append(p.toString())
    return sorted(dirs)


def compact_cdc_mor(
    spark: SparkSession, table_path: str, keys: list[str], seq_col: str
) -> int | None:
    """Fold base + delta log into a new committed snapshot (idempotent;
    see cdc_mor_sink). Returns the published version, or None if there
    was nothing to fold."""
    from .operators import maintenance

    log_dirs = _mor_log_dirs(spark, table_path)
    if not log_dirs:
        return None
    deltas = spark.read.parquet(*log_dirs)
    committed = maintenance.latest_version(spark, table_path)
    if committed == 0:
        merged = _latest_per_key(deltas, keys, seq_col)
    else:
        base = maintenance.read_version(spark, table_path, committed)
        merged = _latest_per_key(
            base.unionByName(deltas, allowMissingColumns=True), keys, seq_col
        )
    # versioned_write fully materializes `merged` into v=N before the
    # log dirs its plan read from are deleted below — no lineage
    # truncation needed (nothing re-evaluates the plan afterwards).
    version = maintenance.versioned_write(spark, merged, table_path)
    for d in log_dirs:
        fs, p = _hadoop_path(spark, d)
        fs.delete(p, True)
    return version


def read_cdc_mor(
    spark: SparkSession, table_path: str, op_col: str, keys: list[str], seq_col: str
) -> DataFrame:
    """Live rows of a merge-on-read CDC table: committed snapshot merged
    with the un-compacted delta-log tail at read time, tombstones and the
    op column dropped — the reader half of the MOR contract."""
    from .operators import maintenance

    committed = maintenance.latest_version(spark, table_path)
    log_dirs = _mor_log_dirs(spark, table_path)
    parts = []
    if committed:
        parts.append(maintenance.read_version(spark, table_path, committed))
    if log_dirs:
        parts.append(spark.read.parquet(*log_dirs))
    if not parts:
        raise FileNotFoundError(f"no snapshot or delta log at {table_path}")
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p, allowMissingColumns=True)
    merged = _latest_per_key(merged, keys, seq_col)
    return merged.where(
        F.col(op_col).isNull() | (F.col(op_col) != F.lit("D"))
    ).drop(op_col)


def read_cdc_snapshot(
    spark: SparkSession, table_path: str, op_col: str, version: int | None = None
) -> DataFrame:
    """Read a ``cdc_sink`` table as its live rows: the committed (or
    pinned) snapshot minus delete tombstones, minus the op column. Rows
    with a NULL op survive (a snapshot seeded by ``versioned_write`` from
    an initial load has no op yet — matching ``cdc_merge_apply``'s
    ``op IS NULL OR op != 'D'`` guard)."""
    from .operators import maintenance

    snap = maintenance.read_version(spark, table_path, version)
    return snap.where(
        F.col(op_col).isNull() | (F.col(op_col) != F.lit("D"))
    ).drop(op_col)


# ---------------------------------------------------------------------------
# Custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------


def stateful_topk(stream: DataFrame, key_col: str, value_col: str, k: int = 3) -> DataFrame:
    """Per-key top-k values maintained in keyed state (leaderboard shape).

    Each micro-batch merges its values into the key's k-slot state and
    re-emits the current ranking — the stateful operator class flock's
    arena would hold per (qid, key) window, here on Spark's state store
    with an array-valued state column. Slot values only ever improve, so
    the final emission per (key, rank) is the stream's answer.
    """
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("rank", LongType()),
            StructField("value", LongType()),
        ]
    )
    state_schema = StructType([StructField("vals", ArrayType(LongType()))])

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        vals = list(state.get[0]) if state.exists else []
        for pdf in batches:
            vals.extend(int(v) for v in pdf[value_col])
        vals = sorted(vals, reverse=True)[:k]
        state.update((vals,))
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(vals),
                "rank": range(1, len(vals) + 1),
                "value": vals,
            }
        )

    return (
        stream.withColumn("key", F.col(key_col).cast("long"))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_running_count(stream: DataFrame, key_col: str) -> DataFrame:
    """Per-key running count maintained in explicit keyed state.

    This is the Spark shape of flock's hand-rolled per-key window state
    (flock-function/src/aws/window/global.rs:161-307 keeps per-key windows
    in an Arena keyed by HashDiff partition): the state store holds one
    counter per key; every micro-batch updates it and emits the running
    total. Use this pattern when semantics genuinely exceed
    window()/session_window() — otherwise prefer the built-ins.
    """
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            # key TYPE from the stream: a hardcoded LongType dies in the
            # arrow cast for any non-long-keyed caller
            StructField("key", stream.schema[key_col].dataType),
            StructField("running_count", LongType()),
        ]
    )
    state_schema = StructType([StructField("count", LongType())])

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (count,) = state.get if state.exists else (0,)
        for pdf in batches:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"key": [key[0]], "running_count": [count]})

    return (
        stream.withColumn("key", F.col(key_col))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_count_window(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    n: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming count-based tumbling window: per key, every ``n`` events
    CLOSE one window and emit it exactly once (append semantics) — the
    live form of the reference's declared-only ``Schedule::Rows(usize)``
    (flock/src/stream/window.rs:75) whose batch twin is the oracle-
    checked ``win_rows_tumble``. Kinesis/Flink's countWindow.

    State per key is O(1): (filled, open_s, next win_id) — no buffered
    rows, because a count window needs only its bounds and size, and
    the fold emits a window the moment its n-th event arrives. Partial
    windows stay in state (they are not yet results); a drain sees only
    completed windows, which is what append-mode sinks require.

    Rows fold in (event time, *order_cols) order within each batch, and
    per-key event-time order must hold ACROSS micro-batches for the
    window ids to be replay-stable (the epoch replay harness guarantees
    it — the same stated bound as stateful_ema). At cluster scale the
    state store shards by key; per-key state is three integers, so
    this runs at any key cardinality the store holds.
    """
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    order_cols = order_cols or []
    out_schema = StructType(
        [
            StructField("key", stream.schema[key_col].dataType),
            StructField("win_id", LongType()),
            StructField("cnt", LongType()),
            StructField("open_s", LongType()),
            StructField("close_s", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("filled", LongType()),
            StructField("open_s", LongType()),
            StructField("win_id", LongType()),
        ]
    )

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        filled, open_s, win_id = state.get if state.exists else (0, 0, 0)
        out: list[tuple] = []
        pdfs = list(batches)
        if not pdfs:  # defensive: no data, nothing to fold
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        pdf = pdf.sort_values(["_t", *order_cols], kind="mergesort")
        for t in pdf["_t"].astype("int64"):
            if filled == 0:
                open_s = int(t)
            filled += 1
            if filled == n:
                out.append((key[0], win_id, n, open_s, int(t)))
                win_id += 1
                filled = 0
        state.update((int(filled), int(open_s), int(win_id)))
        yield pd.DataFrame(
            out, columns=["key", "win_id", "cnt", "open_s", "close_s"]
        )

    return (
        stream.withColumn("key", F.col(key_col))
        .withColumn(
            "_t", F.unix_timestamp(F.col(ts_col).cast("timestamp"))
        )
        # a NULL/unparseable event time has no position in the count
        # order; dropping it HERE (JVM-side) keeps NaN out of the pandas
        # fold, which would otherwise kill the whole query on
        # astype(int64) — the same drop a watermark would apply
        .where(F.col("_t").isNotNull())
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_ema(stream: DataFrame, key_col: str, value_col: str, ts_col: str, alpha: float = 0.5) -> DataFrame:
    """Per-key exponential moving average maintained across micro-batches —
    streaming feature engineering as a custom keyed-state operator. Rows
    fold in event-time order within each batch; the carried state is one
    (ema, n) pair per key, so state is O(keys) however long the stream
    runs. Emits the key's current EMA each batch (update mode) — the
    final emission equals the batch EMA over the whole ordered history
    (pinned by test) PROVIDED per-key event-time order holds ACROSS
    micro-batches too (the replay harness's epoch order guarantees it):
    state is a single irreversible (ema, n) fold, so a late row landing
    in a later batch folds in arrival position, exactly as a streaming
    EMA over an unordered feed would — same precondition as
    stateful_trailing_window/stateful_anomaly, stated here too. Implemented on applyInPandasWithState; Spark 4's
    transformWithState API is the successor, but its Python runner needs
    protobuf, absent in this environment.
    """
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("ema", DoubleType()),
            StructField("n_obs", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("ema", DoubleType()), StructField("n", LongType())]
    )

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ema, n = state.get if state.exists else (None, 0)
        for pdf in batches:
            # Stable sort with the value as tiebreaker: rows sharing an
            # event timestamp fold in a deterministic order (equal ts AND
            # equal value commute under the EMA fold), so the result is
            # reproducible across runs and matches the batch fold.
            ordered = pdf.sort_values([ts_col, value_col], kind="mergesort")
            for v in ordered[value_col]:
                v = float(v)
                ema = v if ema is None else alpha * v + (1 - alpha) * ema
                n += 1
        state.update((ema, n))
        yield pd.DataFrame({"key": [key[0]], "ema": [ema], "n_obs": [n]})

    return (
        stream.withColumn("key", F.col(key_col).cast("long"))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_interval_overlap_stream(
    spark: SparkSession,
    views_path: str,
    purchases_path: str,
    *,
    checkpoint: str,
    view_len_s: int,
    purch_len_s: int,
    watermark: str = "30 days",
    files_per_trigger: int = 15,
    timeout_s: int = 300,
) -> DataFrame:
    """Streamed twin of the batch ``interval_overlap_join`` entry: a
    genuine STREAM-STREAM join with a time-RANGE condition — per-user
    view windows [v_start, v_start+view_len) joined to purchase windows
    [p_start, p_start+purch_len) wherever they overlap. Both sides carry
    event-time watermarks and the join predicate bounds each side's
    event time by an interval of the other's (v_start BETWEEN
    p_start - view_len AND p_start + purch_len), so Spark can evict join
    state as the watermark advances — the interval-join class Flink
    ships natively, expressed on Spark's stream-stream join state.

    Inner matches emit incrementally in append mode; the drained pair
    set equals the batch range join's exactly
    (tests/test_streaming.py). ``watermark`` is the lateness budget —
    state holds ~(watermark + interval) per key at steady state.
    """
    views = (
        _replay(spark, views_path, files_per_trigger)
        .withColumn("v_start", F.col("v_start").cast("timestamp"))
        .withWatermark("v_start", watermark)
    )
    purchases = (
        _replay(spark, purchases_path, files_per_trigger)
        .withColumn("p_start", F.col("p_start").cast("timestamp"))
        .withWatermark("p_start", watermark)
    )
    joined = views.join(
        purchases,
        (views["user_id"] == purchases["user_id"])
        & (
            views["v_start"]
            <= purchases["p_start"] + F.expr(f"INTERVAL {purch_len_s} SECOND")
        )
        & (
            purchases["p_start"]
            <= views["v_start"] + F.expr(f"INTERVAL {view_len_s} SECOND")
        ),
    ).select(views["user_id"], "view_id", "purchase_id")
    return _drain(
        joined, checkpoint=checkpoint, out=f"{checkpoint}-out", timeout_s=timeout_s
    )


def stateful_trailing_window(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_s: int = 3600,
) -> DataFrame:
    """Streaming twin of the batch ``win_time_range`` RANGE frame: for
    EVERY event, the count and sum over its key's exact trailing
    ``window_s`` seconds — the continuous sliding window that bucketed
    tumbling/hopping windows approximate, as a keyed-state operator (the
    last window class that had no streaming form).

    State per key is the trailing-window event buffer: (ts, quantized
    value) pairs with everything older than ``newest_ts - window_s``
    evicted each batch, so state is O(keys · events-per-window), not
    stream length. Values are quantized to 4 decimals (integer ten-
    thousandths) before summing — the same DECIMAL(20,4) accumulation
    the batch frame uses, so the streamed sums equal the batch query's
    doubles BIT-EXACTLY regardless of fold order.

    Equality with the batch frame additionally needs RANGE peer
    semantics (equal-ts rows see each other): rows of one timestamp must
    share a micro-batch, which the epoch-file replay guarantees when
    epochs partition on whole seconds. Input is assumed per-key
    time-ordered ACROSS batches (the replay harness's epoch order);
    within a batch, order is free.

    Expected columns: ``event_id`` + key/ts/value. ``ts_col`` is epoch
    seconds (BIGINT).
    """
    from bisect import bisect_left, bisect_right
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("event_id", LongType()),
            # key TYPE comes from the stream, not a hardcoded LongType —
            # a string-keyed caller otherwise dies in an arrow cast
            StructField(key_col, stream.schema[key_col].dataType),
            StructField("n_trailing_hour", LongType()),
            StructField("sum_trailing_hour", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ts", ArrayType(LongType())),
            StructField("vq", ArrayType(LongType())),
        ]
    )

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        buf_ts, buf_vq = (
            (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        )
        new = []
        for pdf in batches:
            for eid, t, v in zip(
                pdf["event_id"], pdf[ts_col], pdf[value_col], strict=True
            ):
                new.append((int(t), int(round(float(v) * 10000)), int(eid)))
        if not new:
            yield pd.DataFrame(columns=[f.name for f in out_schema.fields])
            return
        # one sorted merged buffer; prefix sums give each event's exact
        # [ts - window_s, ts] frame (peers included) in O(log n)
        merged = sorted(
            [(t, q) for t, q in zip(buf_ts, buf_vq, strict=True)]
            + [(t, q) for t, q, _ in new]
        )
        ts_sorted = [t for t, _ in merged]
        prefix = [0]
        for _, q in merged:
            prefix.append(prefix[-1] + q)
        out = {"event_id": [], key_col: [], "n": [], "s": []}
        for t, _, eid in new:
            lo = bisect_left(ts_sorted, t - window_s)
            hi = bisect_right(ts_sorted, t)
            out["event_id"].append(eid)
            out[key_col].append(key[0])
            out["n"].append(hi - lo)
            out["s"].append((prefix[hi] - prefix[lo]) / 10000.0)
        # evict: a later event's frame never reaches below newest - window
        horizon = ts_sorted[-1] - window_s
        keep = bisect_left(ts_sorted, horizon)
        state.update(
            ([t for t, _ in merged[keep:]], [q for _, q in merged[keep:]])
        )
        yield pd.DataFrame(
            {
                "event_id": out["event_id"],
                key_col: out[key_col],
                "n_trailing_hour": out["n"],
                "sum_trailing_hour": out["s"],
            }
        )

    return stream.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_anomaly(
    stream: DataFrame,
    key_col: str,
    bucket_col: str,
    cnt_col: str,
    window: int = 7,
    k_sigma: float = 3.0,
) -> DataFrame:
    """Streaming form of the batch ``ts_anomaly`` monitor: per-key rolling
    mean±kσ anomaly flags over PRE-AGGREGATED series buckets arriving in
    order (the channel-topology input — a windowed count stream feeds
    this, like q6's winners channel feeds its keyed frame). State is the
    last ``window`` counts per key (one bounded array — O(keys·window)
    however long the stream runs); each bucket is judged against the
    STRICTLY-PRIOR baseline before being pushed, the same
    no-self-masking rule the batch SQL pins, with identical IEEE
    arithmetic — so the streamed flags equal the batch query's
    (tests/test_streaming.py).
    """
    import math
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    out_schema = StructType(
        [
            StructField("series_key", StringType()),
            StructField("bucket", TimestampNTZType()),
            StructField("cnt", LongType()),
            StructField("roll_mean", DoubleType()),
            StructField("roll_std", DoubleType()),
            StructField("is_anomaly", BooleanType()),
        ]
    )
    state_schema = StructType([StructField("hist", ArrayType(LongType()))])

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (hist,) = state.get if state.exists else ([],)
        hist = list(hist)
        rows = []
        for pdf in batches:
            for _, r in pdf.sort_values(bucket_col).iterrows():
                cnt = int(r[cnt_col])
                n = len(hist)
                if n:
                    s1 = sum(hist)
                    s2 = sum(c * c for c in hist)
                    mean = float(s1) / n
                    var = max(float(s2) / n - mean * mean, 0.0)
                    std = math.sqrt(var)
                    flag = n >= window and abs(cnt - mean) > k_sigma * std
                    rows.append(
                        (key[0], r[bucket_col], cnt,
                         round(mean, 4), round(std, 4), bool(flag))
                    )
                else:
                    # mirror the batch SQL's empty-frame rendering: mean is
                    # NULL (NULL/0) but std is 0.0 — GREATEST(NULL, 0) -> 0
                    rows.append((key[0], r[bucket_col], cnt, None, 0.0, False))
                hist.append(cnt)
                if len(hist) > window:
                    hist.pop(0)
        state.update((hist,))
        yield pd.DataFrame(
            rows,
            columns=["series_key", "bucket", "cnt", "roll_mean", "roll_std", "is_anomaly"],
        )

    return stream.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_proc_window_count_legacy(
    stream: DataFrame,
    key_col: str,
    window_s: int = 1,
    flush_col: str = "is_flush",
) -> DataFrame:
    """NEXMark q12 — per-key PROCESSING-time tumbling counts — on the
    LEGACY stateful API (``applyInPandasWithState``), runnable in
    environments where ``transformWithStateInPandas`` can't start (its
    Python worker needs google.protobuf — the r13 degenerate-lane skip
    this runner closes). Same state machine as ProcWindowCount: per key
    ONE open (win_start_ms, n) pair; a row landing in a LATER processing
    window finalizes the old one eagerly.

    Where ProcWindowCount closes idle windows with a processing-time
    TIMER, this form closes them with per-key FLUSH rows (``flush_col``
    = true): the legacy timeout only fires when a subsequent micro-batch
    arrives, which an availableNow replay never guarantees, so the sweep
    is made explicit data — the same role flock's wall-clock sweep plays
    over its per-key window arena
    (flock-function/src/aws/window/global.rs:161-307), and the same
    sentinel pattern the event-time drains use (write_flush_epoch). A
    flush row is never counted; it only finalizes the key's open window.

    Window placement is wall-clock (state.getCurrentProcessingTimeMs —
    the engine's own batch clock), so placement is non-deterministic by
    nature; the checkable contract is q12's partition INVARIANT — every
    real row lands in exactly ONE emitted window, so per-key emitted
    counts sum to the per-key input count (the reference's own q12 check
    is count-based for the same reason, SURVEY §2.11 B5).
    """
    from typing import Any, Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("key", stream.schema[key_col].dataType),
            StructField("win_start_ms", LongType()),
            StructField("n", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("win_start_ms", LongType()),
            StructField("n", LongType()),
        ]
    )
    win_ms = window_s * 1000

    def update(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        open_win, n = state.get if state.exists else (None, 0)
        out: list[tuple] = []
        flush = False
        for pdf in batches:
            n_flush = int(pdf[flush_col].sum())
            flush = flush or n_flush > 0
            n_real = len(pdf) - n_flush
            if n_real:
                cur = state.getCurrentProcessingTimeMs() // win_ms * win_ms
                if open_win is not None and cur != open_win:
                    out.append((key[0], int(open_win), int(n)))
                    open_win, n = None, 0
                if open_win is None:
                    open_win = cur
                n += n_real
        if flush and open_win is not None:
            out.append((key[0], int(open_win), int(n)))
            open_win, n = None, 0
        if open_win is None:
            state.remove()
        else:
            state.update((int(open_win), int(n)))
        yield pd.DataFrame(out, columns=["key", "win_start_ms", "n"])

    return (
        stream.withColumn("key", F.col(key_col))
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


class ProcWindowCount(StatefulProcessor):
    """The transformWithState processor behind stateful_proc_window_count,
    at module scope so its state-machine logic is unit-testable with a
    fake handle even where the Spark-side runner can't start (the
    protobuf gate).

    Invariant the logic maintains (and tests/test_streaming.py drives
    directly): per key, at most ONE open window + its timer at any time;
    every input row lands in exactly one emitted window (timer-finalized,
    or eagerly flushed when a later window's rows arrive first)."""

    def __init__(self, win_ms: int) -> None:
        self.win_ms = win_ms

    def init(self, handle) -> None:
        from pyspark.sql.types import LongType, StructField, StructType

        self.handle = handle
        self.win = handle.getValueState(
            "win",
            StructType(
                [
                    StructField("win_start_ms", LongType()),
                    StructField("n", LongType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        win_ms = self.win_ms
        n_new = sum(len(pdf) for pdf in rows)
        now_ms = timerValues.getCurrentProcessingTimeInMs()
        cur_win = (now_ms // win_ms) * win_ms
        if self.win.exists():
            prev_win, prev_n = self.win.get()
            if prev_win == cur_win:
                self.win.update((cur_win, prev_n + n_new))
                return iter(())
            # later window arrived before the old timer fired: finalize
            # the old window now and drop its (stale) timer.
            self.handle.deleteTimer(prev_win + win_ms)
            self.win.update((cur_win, n_new))
            self.handle.registerTimer(cur_win + win_ms)
            return iter(
                [pd.DataFrame({"key": [key[0]], "win_start_ms": [prev_win], "n": [prev_n]})]
            )
        self.win.update((cur_win, n_new))
        self.handle.registerTimer(cur_win + win_ms)
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd

        if not self.win.exists():
            return iter(())
        win_start, n = self.win.get()
        if expiredTimerInfo.getExpiryTimeInMs() < win_start + self.win_ms:
            return iter(())  # stale timer for an already-finalized window
        self.win.clear()
        return iter(
            [pd.DataFrame({"key": [key[0]], "win_start_ms": [win_start], "n": [n]})]
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def close(self) -> None:
        pass


def stateful_proc_window_count(
    stream: DataFrame, key_col: str, window_s: int = 1
) -> DataFrame:
    """NEXMark q12 — per-key PROCESSING-time tumbling counts — on the
    MODERN stateful API (``transformWithStateInPandas``, Spark 4) with
    real processing-time TIMERS: the exact semantic twin of flock's
    global window handler (flock-function/src/aws/window/global.rs:161-307
    buckets per-key state by processing time and a wall-clock sweep
    closes windows; here the state store holds one (win_start, n) pair
    per key and a registered timer replaces the sweep — Spark runs
    no-data micro-batches so timers fire even when the source idles).

    Append-mode semantics: a (key, win_start_ms, n) row emits ONLY when
    its window finalizes — via its timer, or eagerly when a later-window
    row for the same key arrives first (same finalized content either
    way, like flock emitting a window the moment the next one opens).
    The q12 invariant (windows PARTITION each key's rows:
    sum(n) == rows seen) holds regardless of where boundaries land,
    which is what the integration test pins; the state-machine logic is
    additionally unit-tested directly (ProcWindowCount) so the gated
    integration path isn't the only evidence.

    Requires the RocksDB state-store provider
    (``session.configure_state_store(spark, "rocksdb")``) — the
    transformWithState state layout is only implemented there, which at
    cluster scale is the provider large state wants anyway (SCALING.md).
    Also requires the ``protobuf`` package (pyspark 4.1's
    transformWithState Python runner speaks a protobuf state protocol);
    environments without it keep the applyInPandasWithState operators
    above, which cover the same semantics minus timers.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("key", stream.schema[key_col].dataType),
            StructField("win_start_ms", LongType()),
            StructField("n", LongType()),
        ]
    )
    return (
        stream.withColumn("key", F.col(key_col))
        .groupBy("key")
        .transformWithStateInPandas(
            ProcWindowCount(window_s * 1000),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="ProcessingTime",
        )
    )


def stream_dimension_enrich(
    stream: DataFrame,
    dimension: DataFrame,
    key_col: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Enrich a fact stream against a slowly-changing dimension AS OF each
    event's time: stream-static join on (key, validity interval) — the
    standard streaming-warehouse lookup (facts arrive as a stream, the
    SCD2 table from operators/warehouse.py is storage). Stream-static
    joins re-resolve the static side every micro-batch, so dimension
    updates between batches are picked up without restarting the query —
    the state-free enrichment pattern; no watermark needed because the
    static side is not a stream.

    The interval predicate (from <= ts < to, open-ended current rows) is
    a non-equi residual on top of the key equi-join: per micro-batch
    Catalyst plans the same broadcast/hash join a batch enrichment gets.
    """
    cond = (
        (stream[key_col] == dimension[key_col])
        & (stream[ts_col] >= dimension[valid_from])
        & (dimension[valid_to].isNull() | (stream[ts_col] < dimension[valid_to]))
    )
    return stream.join(dimension, cond).drop(dimension[key_col])
