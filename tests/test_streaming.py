"""Structured Streaming semantics: micro-batch replay must equal batch.

The invariant under test (flock's own oracle, SURVEY.md §3 Entry-3): the
same query over the same bounded data gives identical results whether run
as one batch or replayed epoch-by-epoch through streaming.

Note on modes: append-mode windowed aggregation only emits windows sealed
by the watermark, and the watermark never passes the final window of a
bounded replay — so the equality tests drain in complete mode, and the
sink tests (append) assert on the rows that do land.
"""

import os

from pyspark.sql import functions as F

from squirtle_spark import sources, streaming


def _replay_setup(spark, tmp_path, eps=200, secs=6):
    bids = sources.nexmark_bids(spark, eps, secs).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "bids")
    streaming.write_epoch_files(bids, data_dir)
    stream = streaming.replay_stream(spark, data_dir, files_per_trigger=2).drop("epoch")
    # batch side mirrors the helpers' event-time cast (watermark needs TIMESTAMP)
    batch = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    return batch, stream


def test_tumbling_stream_equals_batch(spark, tmp_path):
    batch_df, stream = _replay_setup(spark, tmp_path)
    result = streaming.tumbling_agg(stream, "b_date_time", "auction", size="2 seconds")
    rows = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-tumble"), mode="complete"
    )
    expected = (
        batch_df.groupBy(F.window("b_date_time", "2 seconds"), "auction")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("win_start"), "auction", "cnt")
        .collect()
    )
    assert len(rows) > 0
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))


def test_hopping_stream_equals_batch(spark, tmp_path):
    batch_df, stream = _replay_setup(spark, tmp_path)
    result = streaming.hopping_agg(
        stream, "b_date_time", "auction", size="4 seconds", slide="2 seconds"
    )
    rows = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-hop"), mode="complete"
    )
    expected = (
        batch_df.groupBy(F.window("b_date_time", "4 seconds", "2 seconds"), "auction")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("win_start"), "auction", "cnt")
        .collect()
    )
    assert len(rows) > 0
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))


def test_stream_stream_windowed_join(spark, tmp_path):
    """q8 shape: person-stream ⋈ auction-stream with watermarks and a
    time-range condition (flock runs this per tumbling window; Spark's
    stream-stream join with a range condition subsumes it)."""
    persons = sources.nexmark_persons(spark, 200, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("p_date_time").cast("timestamp")) % 100000
    )
    auctions = sources.nexmark_auctions(spark, 200, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
    )
    streaming.write_epoch_files(persons, str(tmp_path / "p"))
    streaming.write_epoch_files(auctions, str(tmp_path / "a"))
    ps = (
        streaming.replay_stream(spark, str(tmp_path / "p"), 3)
        .drop("epoch")
        .withColumn("p_date_time", F.col("p_date_time").cast("timestamp"))
        .withWatermark("p_date_time", "10 seconds")
    )
    au = (
        streaming.replay_stream(spark, str(tmp_path / "a"), 3)
        .drop("epoch")
        .withColumn("a_date_time", F.col("a_date_time").cast("timestamp"))
        .withWatermark("a_date_time", "10 seconds")
    )
    cond = (
        (ps["p_id"] == au["seller"])
        & (au["a_date_time"] >= ps["p_date_time"] - F.expr("INTERVAL 5 SECONDS"))
        & (au["a_date_time"] <= ps["p_date_time"] + F.expr("INTERVAL 5 SECONDS"))
    )
    joined = ps.join(au, cond).select("p_id", "name", "a_id", "a_date_time")
    rows = streaming.run_available_now(
        joined, checkpoint=str(tmp_path / "ckpt-ssj"), mode="append"
    )

    bp = sources.nexmark_persons(spark, 200, 6).withColumn(
        "p_date_time", F.col("p_date_time").cast("timestamp")
    )
    ba = sources.nexmark_auctions(spark, 200, 6).withColumn(
        "a_date_time", F.col("a_date_time").cast("timestamp")
    )
    bcond = (
        (bp["p_id"] == ba["seller"])
        & (ba["a_date_time"] >= bp["p_date_time"] - F.expr("INTERVAL 5 SECONDS"))
        & (ba["a_date_time"] <= bp["p_date_time"] + F.expr("INTERVAL 5 SECONDS"))
    )
    expected = bp.join(ba, bcond).select("p_id", "name", "a_id", "a_date_time").collect()
    assert len(rows) > 0
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))


def test_session_stream_equals_batch(spark, tmp_path):
    batch_df, stream = _replay_setup(spark, tmp_path)
    result = streaming.session_agg(stream, "b_date_time", "bidder", gap="2 seconds")
    rows = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-sess"), mode="complete"
    )
    expected = (
        batch_df.groupBy("bidder", F.session_window("b_date_time", "2 seconds"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "bidder",
            F.col("session_window.start").alias("starttime"),
            F.col("session_window.end").alias("endtime"),
            "cnt",
        )
        .collect()
    )
    assert len(rows) > 0
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))


def test_nexmark_q0_q1_q2_stateless_streams_equal_batch(spark, tmp_path):
    """q0 (pass-through), q1 (currency conversion), q2 (MOD filter) as
    stateless streaming transforms over the replayed bid stream — the
    ElementWise/micro-batch mode (SURVEY §7 step 4): append mode, no
    state, every micro-batch independent."""
    batch_df, stream = _replay_setup(spark, tmp_path, eps=100, secs=4)

    transforms = {
        "q0": lambda df: df.select("auction", "bidder", "price", "b_date_time"),
        "q1": lambda df: df.select(
            "auction", "bidder", (F.lit(0.908) * F.col("price")).alias("price"),
            "b_date_time",
        ),
        "q2": lambda df: df.select("auction", "price").where(
            F.col("auction") % 123 == 0
        ),
    }
    for name, tf in transforms.items():
        rows = streaming.run_available_now(
            tf(stream), checkpoint=str(tmp_path / f"ckpt-{name}"), mode="append"
        )
        expected = tf(batch_df).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, expected)), name
        if name != "q2":
            assert len(rows) > 0, name


def test_nexmark_q5_full_stream_equals_batch(spark, tmp_path):
    """The DECLARED q5 end-to-end as a stream — hopping counts (stateful)
    + per-window max join-on-aggregate — must equal the identical batch
    computation, ties included (flock's production path streams this query,
    benchmarks/src/nexmark/main.rs). A ``result_path`` given as a URI
    reads back through Hadoop FS to the same result."""
    bids = sources.nexmark_bids(spark, 200, 12).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "bids")
    streaming.write_epoch_files(bids, data_dir)

    batch = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    counts = batch.groupBy(
        F.window("b_date_time", "10 seconds", "5 seconds"), F.col("auction")
    ).agg(F.count("*").alias("num"))
    maxes = counts.groupBy("window").agg(F.max("num").alias("maxn"))
    expected = (
        counts.join(maxes, "window")
        .where(F.col("num") >= F.col("maxn"))
        .select("auction", "num", F.col("window.start").alias("starttime"))
        .collect()
    )
    for tag, result_path in (("plain", None), ("uri", f"file://{tmp_path}/q5-out")):
        got = streaming.run_nexmark_q5_stream(
            spark,
            data_dir,
            checkpoint=str(tmp_path / f"ckpt-q5full-{tag}"),
            files_per_trigger=3,
            result_path=result_path,
        ).collect()
        assert len(got) > 0, tag
        assert sorted(map(tuple, got)) == sorted(map(tuple, expected)), tag


def test_nexmark_q7_full_stream_equals_batch(spark, tmp_path):
    """q7 (highest bid per tumbling window) end-to-end as a stream: the
    per-window max is the stateful op; winners are recovered by joining the
    maxes back to the bids — must equal the batch q7, ties included."""
    bids = sources.nexmark_bids(spark, 200, 12).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "bids")
    streaming.write_epoch_files(bids, data_dir)

    got = streaming.run_nexmark_q7_stream(
        spark, data_dir, checkpoint=str(tmp_path / "ckpt-q7full"), files_per_trigger=3
    ).collect()

    batch = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    maxes = batch.groupBy(F.window("b_date_time", "10 seconds")).agg(
        F.max("price").alias("maxprice")
    )
    wb = batch.withColumn("w", F.window("b_date_time", "10 seconds"))
    expected = (
        wb.join(maxes, (wb["w"] == maxes["window"]) & (wb["price"] == maxes["maxprice"]))
        .select("auction", "price", "bidder", "b_date_time")
        .collect()
    )
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_rate_bid_stream_matches_batch_generator(spark, tmp_path):
    """The unbounded rate-source connector must emit byte-identical bids to
    the batch generator over the same id range (broker stand-in contract)."""
    import time as _t

    stream = sources.rate_bid_stream(spark, events_per_sec=2000, include_id=True)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_bids")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-rate"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = _t.time() + 60
        while _t.time() < deadline:
            if spark.sql("SELECT COUNT(*) c FROM rate_bids").first()["c"] > 500:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    got = {r["id"]: r for r in spark.sql("SELECT * FROM rate_bids").collect()}
    assert len(got) > 0
    max_id = max(got)
    expected = {
        r["id"]: r
        for r in sources._bid_projection(
            sources._enrich(spark.range(max_id + 1), 2000, 42), 42, include_id=True
        ).collect()
    }
    for i, row in got.items():
        assert tuple(row) == tuple(expected[i]), i


def test_ysb_full_stream_equals_batch(spark, tmp_path):
    """Declared YSB end-to-end as a stream: view filter + broadcast
    campaign join + tumbling campaign counts == the batch computation."""
    events = sources.ysb_ad_events(spark, 300, 10).withColumn(
        "epoch", F.unix_timestamp(F.col("event_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "ysb")
    streaming.write_epoch_files(events, data_dir)
    campaigns = sources.ysb_campaigns(spark)

    result = streaming.ysb_campaign_stream(spark, data_dir, campaigns, files_per_trigger=3)
    rows = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-ysb"), mode="complete"
    )

    expected = (
        events.drop("epoch")
        .withColumn("event_time", F.col("event_time").cast("timestamp"))
        .where(F.col("event_type") == "view")
        .join(campaigns, F.col("ad_id") == F.col("c_ad_id"))
        .groupBy(F.window("event_time", "10 seconds"), F.col("campaign_id"))
        .agg(F.count("*").alias("n_views"))
        .select(F.col("window.start").alias("win_start"), "campaign_id", "n_views")
        .collect()
    )
    assert len(rows) > 0
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))


def test_stream_dedup_first_occurrence_wins(spark, tmp_path):
    """Watermarked streaming dedup: replaying a stream with duplicated
    events yields exactly the distinct key set (state bounded by the
    watermark)."""
    bids = sources.nexmark_bids(spark, 100, 6)
    doubled = bids.union(bids).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "dup-bids")
    streaming.write_epoch_files(doubled, data_dir)
    stream = streaming.replay_stream(spark, data_dir, files_per_trigger=2).drop("epoch")

    deduped = streaming.stream_dedup(
        stream, ["auction", "bidder", "price"], "b_date_time"
    )
    rows = streaming.run_available_now(
        deduped, checkpoint=str(tmp_path / "ckpt-dedup"), mode="append"
    )
    expected = bids.dropDuplicates(["auction", "bidder", "price"]).count()
    assert len(rows) == expected


def test_rocksdb_state_store_session_and_dedup(spark, tmp_path):
    """The two largest-state streaming ops (q11 session store, watermarked
    dedup) run green on the RocksDB state-store provider — SCALING.md's
    cluster change #3 as a tested config switch, not prose. Results must
    equal the batch formulation exactly, same as the default provider."""
    from squirtle_spark.session import (
        _STATE_STORE_KEY,
        STATE_STORE_PROVIDERS,
        configure_state_store,
    )

    try:
        prev = spark.conf.get(_STATE_STORE_KEY)
    except Exception:
        prev = None
    assert configure_state_store(spark, "rocksdb") == STATE_STORE_PROVIDERS["rocksdb"]
    try:
        # q11-shape session aggregation on the RocksDB store
        batch_df, stream = _replay_setup(spark, tmp_path)
        result = streaming.session_agg(stream, "b_date_time", "bidder", gap="2 seconds")
        rows = streaming.run_available_now(
            result, checkpoint=str(tmp_path / "ckpt-sess-rocks"), mode="complete"
        )
        expected = (
            batch_df.groupBy("bidder", F.session_window("b_date_time", "2 seconds"))
            .agg(F.count("*").alias("cnt"))
            .select(
                "bidder",
                F.col("session_window.start").alias("starttime"),
                F.col("session_window.end").alias("endtime"),
                "cnt",
            )
            .collect()
        )
        assert len(rows) > 0
        assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))

        # watermarked streaming dedup on the RocksDB store
        bids = sources.nexmark_bids(spark, 100, 6)
        doubled = bids.union(bids).withColumn(
            "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
        )
        data_dir = str(tmp_path / "dup-bids-rocks")
        streaming.write_epoch_files(doubled, data_dir)
        dstream = streaming.replay_stream(spark, data_dir, files_per_trigger=2).drop(
            "epoch"
        )
        deduped = streaming.stream_dedup(
            dstream, ["auction", "bidder", "price"], "b_date_time"
        )
        drows = streaming.run_available_now(
            deduped, checkpoint=str(tmp_path / "ckpt-dedup-rocks"), mode="append"
        )
        assert len(drows) == bids.dropDuplicates(["auction", "bidder", "price"]).count()
    finally:
        if prev is None:
            spark.conf.unset(_STATE_STORE_KEY)
        else:
            spark.conf.set(_STATE_STORE_KEY, prev)


def test_partitioned_sink(spark, tmp_path):
    """q10: dt/hm-partitioned file sink produces real partitions with all rows."""
    batch_df, stream = _replay_setup(spark, tmp_path, eps=100, secs=3)
    out = str(tmp_path / "q10-out")
    q = streaming.partitioned_file_sink(
        stream.select("auction", "bidder", "price", "b_date_time"),
        out,
        checkpoint=str(tmp_path / "ckpt-q10"),
    )
    q.awaitTermination(300)
    parts = [p for p in os.listdir(out) if p.startswith("dt=")]
    assert parts, f"no dt= partitions in {os.listdir(out)}"
    sub = os.listdir(os.path.join(out, parts[0]))
    assert any(s.startswith("hm=") for s in sub)
    assert spark.read.csv(out).count() == batch_df.count()


def test_stateful_running_count(spark, tmp_path):
    """Custom keyed-state operator: final per-key running counts must equal
    the batch counts (flock global.rs per-key state parity)."""
    batch_df, stream = _replay_setup(spark, tmp_path, eps=100, secs=4)
    result = streaming.stateful_running_count(stream, "bidder")
    rows = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-state"), mode="update"
    )
    # update mode re-emits per batch: keep the max (latest) count per key
    final = {}
    for r in rows:
        final[r["key"]] = max(final.get(r["key"], 0), r["running_count"])
    expected = {
        r["bidder"]: r["cnt"]
        for r in batch_df.groupBy("bidder").agg(F.count("*").alias("cnt")).collect()
    }
    assert final == expected


def test_stateful_topk(spark, tmp_path):
    """Custom keyed-state top-k: the final per-(key, rank) emission must
    equal the batch top-k per key (slot values only improve, so max over
    update-mode emissions == final state)."""
    batch_df, stream = _replay_setup(spark, tmp_path, eps=100, secs=4)
    result = streaming.stateful_topk(stream, "bidder", "price", k=3)
    rows = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-topk"), mode="update"
    )
    final = {}
    for r in rows:
        cur = final.get((r["key"], r["rank"]), -1)
        final[(r["key"], r["rank"])] = max(cur, r["value"])
    expected = {}
    for r in (
        batch_df.selectExpr("bidder", "CAST(price AS LONG) price").collect()
    ):
        expected.setdefault(r["bidder"], []).append(r["price"])
    exp_flat = {}
    for bidder, vals in expected.items():
        for i, v in enumerate(sorted(vals, reverse=True)[:3], start=1):
            exp_flat[(bidder, i)] = v
    assert final == exp_flat


def test_upsert_sink_latest_per_key(spark, tmp_path):
    """Streaming keyed upsert: replaying a stream where keys repeat across
    epochs must leave exactly the latest row per key (highest event time),
    matching the batch last-per-key computation; only touched hash buckets
    are rewritten per batch."""
    bids = sources.nexmark_bids(spark, 150, 8).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "upsert-bids")
    streaming.write_epoch_files(bids, data_dir)
    stream = streaming.replay_stream(spark, data_dir, files_per_trigger=2).drop("epoch")

    out = str(tmp_path / "upsert-table")
    q = streaming.upsert_sink(
        stream,
        out,
        keys=["auction"],
        seq_col="b_date_time",
        checkpoint=str(tmp_path / "ckpt-upsert"),
    )
    assert q.awaitTermination(300)

    got = {
        r["auction"]: r["b_date_time"]
        for r in spark.read.parquet(out).select("auction", "b_date_time").collect()
    }
    expected = {
        r["auction"]: r["latest"]
        for r in bids.groupBy("auction")
        .agg(F.max("b_date_time").alias("latest"))
        .collect()
    }
    assert len(got) == len(expected)
    assert {k: v for k, v in got.items()} == {
        k: v.replace(tzinfo=None) if hasattr(v, "replace") else v
        for k, v in expected.items()
    }


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Exactly-once across restarts: re-running a drained query from the
    same checkpoint processes nothing twice, and new files are picked up
    incrementally (parity with flock's PROCESSED_WINDOWS idempotence,
    flock-function/src/aws/actor.rs:24-28,104-110 — Spark's checkpoint +
    file-source log subsumes it)."""
    import shutil

    bids = sources.nexmark_bids(spark, 100, 4).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    first = bids.where("epoch % 2 = 0")
    second = bids.where("epoch % 2 = 1")
    data_dir = tmp_path / "bids"
    ckpt = str(tmp_path / "ckpt-recover")
    streaming.write_epoch_files(first, str(data_dir))

    def drain():
        stream = streaming.replay_stream(spark, str(data_dir), 2).drop("epoch")
        counts = stream.groupBy("bidder").agg(F.count("*").alias("cnt"))
        return streaming.run_available_now(counts, checkpoint=ckpt, mode="complete")

    rows1 = drain()
    total1 = sum(r["cnt"] for r in rows1)
    assert total1 == first.count()

    # restart with no new data: zero batches fire — nothing is reprocessed
    # (the file-source log in the checkpoint remembers what was consumed)
    rows2 = drain()
    assert sum(r["cnt"] for r in rows2) == 0

    # add the second half: incremental pickup, every row exactly once
    tmp_stage = tmp_path / "stage2"
    streaming.write_epoch_files(second, str(tmp_stage))
    for sub in tmp_stage.iterdir():
        if sub.name.startswith("epoch="):
            shutil.move(str(sub), str(data_dir / sub.name))
    rows3 = drain()
    total3 = sum(r["cnt"] for r in rows3)
    assert total3 == bids.count()


def test_foreach_batch_sink(spark, tmp_path):
    batch_df, stream = _replay_setup(spark, tmp_path, eps=100, secs=2)
    seen = []

    def fn(df, epoch_id):
        seen.append((epoch_id, df.count()))

    q = streaming.foreach_batch_sink(stream, fn, checkpoint=str(tmp_path / "ckpt-feb"))
    q.awaitTermination(300)
    assert len(seen) >= 1
    assert sum(c for _, c in seen) == batch_df.count()


def _q8_inputs(spark, tmp_path, flush=False):
    """Person/auction entity streams staged as epoch files under tmp_path/p
    and tmp_path/a (+ optional flush sentinels advancing the frontier).
    Returns the staged batch DataFrames for computing expected results."""
    persons = sources.nexmark_persons(spark, 200, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("p_date_time").cast("timestamp")) % 100000
    )
    auctions = sources.nexmark_auctions(spark, 400, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
    )
    streaming.write_epoch_files(persons, str(tmp_path / "p"))
    streaming.write_epoch_files(auctions, str(tmp_path / "a"))
    if flush:
        for sub, ts, keys in (
            ("p", "p_date_time", ["p_id"]),
            ("a", "a_date_time", ["a_id", "seller"]),
        ):
            streaming.write_flush_epoch(spark, str(tmp_path / sub), ts, 3_600, keys)
    return persons, auctions


def _q8_windowed_sides(persons, auctions, start_alias="starttime"):
    """The batch q8 formulation's deduped-per-window sides."""
    bp = (
        persons.drop("epoch")
        .withColumn("p_date_time", F.col("p_date_time").cast("timestamp"))
        .select(
            "p_id",
            "name",
            F.window("p_date_time", "10 seconds")["start"].alias(start_alias),
        )
        .distinct()
    )
    ba = (
        auctions.drop("epoch")
        .withColumn("a_date_time", F.col("a_date_time").cast("timestamp"))
        .select(
            "seller", F.window("a_date_time", "10 seconds")["start"].alias(start_alias)
        )
        .distinct()
    )
    return bp, ba


def _q8_batch_expected(persons, auctions):
    bp, ba = _q8_windowed_sides(persons, auctions)
    return (
        bp.join(ba, (bp["p_id"] == ba["seller"]) & (bp["starttime"] == ba["starttime"]))
        .select("p_id", "name", bp["starttime"])
        .collect()
    )


def test_nexmark_q8_full_stream_equals_batch(spark, tmp_path):
    """q8 (new users who opened auctions) end-to-end as a genuine
    stream-stream join: both replays watermark + window-assign, join on
    (p_id = seller, same window) — drained result must equal the batch
    formulation (dedup-per-window sides joined on window)."""
    persons, auctions = _q8_inputs(spark, tmp_path)

    got = streaming.run_nexmark_q8_stream(
        spark,
        str(tmp_path / "p"),
        str(tmp_path / "a"),
        checkpoint=str(tmp_path / "ckpt-q8full"),
        size_s=10,
        files_per_trigger=3,
    ).collect()

    expected = _q8_batch_expected(persons, auctions)
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_nexmark_q8_stream_evicts_state_with_flush(spark, tmp_path):
    """Production-shaped q8: flush sentinels push the event-time frontier
    past every real window and a FINITE watermark lets Spark evict both
    sides' stream-stream join state — asserted from the engine's own
    stateOperators metrics (final rows a small constant, not the peak),
    with the drained result still equal to the batch formulation. This is
    the 'join state bounded by watermark' claim as a test, not prose: the
    default 30-day watermark is only for oracle replays whose event span
    is compressed into a handful of micro-batches."""
    persons, auctions = _q8_inputs(spark, tmp_path, flush=True)

    metrics: dict = {}
    got = streaming.run_nexmark_q8_stream(
        spark,
        str(tmp_path / "p"),
        str(tmp_path / "a"),
        checkpoint=str(tmp_path / "ckpt-q8evict"),
        size_s=10,
        watermark="600 seconds",
        files_per_trigger=3,
        metrics=metrics,
    ).collect()

    expected = _q8_batch_expected(persons, auctions)
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))

    join_state = next(
        (v for k, v in metrics["state_operators"].items() if "join" in k.lower()),
        None,
    )
    assert join_state is not None, metrics
    # Peak holds real rows from both sides; after the sentinel advances the
    # frontier only the two far-future sentinel rows may survive eviction.
    assert join_state["peak_rows"] > 10
    assert join_state["final_rows"] <= 4, join_state
    assert join_state["final_rows"] < join_state["peak_rows"]


def test_nexmark_q8_outer_stream_equals_batch(spark, tmp_path):
    """Stream-stream OUTER joins (left and full): unmatched rows flush via
    the sentinel-advanced watermark and the drained DISTINCT rows must
    equal the batch outer join of the deduped sides — including NULL-side
    rows in both directions for full outer."""
    persons, auctions = _q8_inputs(spark, tmp_path)
    bp, ba = _q8_windowed_sides(persons, auctions, start_alias="w")

    for how in ("left_outer", "full_outer"):
        got = streaming.run_nexmark_q8_outer_stream(
            spark,
            str(tmp_path / "p"),
            str(tmp_path / "a"),
            checkpoint=str(tmp_path / f"ckpt-q8-{how}"),
            size_s=10,
            files_per_trigger=3,
            how=how,
        ).collect()
        expected = (
            bp.join(ba, (bp["p_id"] == ba["seller"]) & (bp["w"] == ba["w"]), how)
            .select(
                "p_id", "name", "seller", F.coalesce(bp["w"], ba["w"]).alias("starttime")
            )
            .distinct()
            .collect()
        )
        key = lambda r: tuple((x is None, x) for x in r)
        assert len(got) > 0, how
        assert any(r["seller"] is None for r in got), how  # person-side outer rows
        if how == "full_outer":
            assert any(r["p_id"] is None for r in got)  # auction-side outer rows
        assert sorted(map(key, got)) == sorted(map(key, expected)), how


def test_nexmark_q13_full_stream_equals_batch(spark, tmp_path):
    """q13 end-to-end as a stream-static broadcast join: every replayed bid
    joins the static side-input table; drained output must equal the batch
    join (stateless per micro-batch — no watermark, no state)."""
    bids = sources.nexmark_bids(spark, 400, 8).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    side = spark.range(1000).selectExpr(
        "CAST(id AS BIGINT) AS key", "'side_' || CAST(id % 42 AS STRING) AS value"
    )
    streaming.write_epoch_files(bids, str(tmp_path / "b"))

    got = streaming.run_nexmark_q13_stream(
        spark,
        str(tmp_path / "b"),
        side,
        checkpoint=str(tmp_path / "ckpt-q13full"),
        files_per_trigger=3,
    ).collect()

    bb = bids.drop("epoch")
    expected = bb.join(
        F.broadcast(side), F.expr("MOD(auction, 1000)") == side["key"]
    ).select("auction", "bidder", "price", "b_date_time", "value").collect()
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_nexmark_q3_full_stream_equals_batch(spark, tmp_path):
    """q3 end-to-end as a pure incremental equi-join (no window, state
    retained for the stream's life): drained append output must equal the
    batch join, across persons and auctions arriving in different
    micro-batches."""
    persons = sources.nexmark_persons(spark, 300, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("p_date_time").cast("timestamp")) % 100000
    )
    auctions = sources.nexmark_auctions(spark, 600, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
    )
    streaming.write_epoch_files(persons, str(tmp_path / "p"))
    streaming.write_epoch_files(auctions, str(tmp_path / "a"))

    got = streaming.run_nexmark_q3_stream(
        spark,
        str(tmp_path / "p"),
        str(tmp_path / "a"),
        checkpoint=str(tmp_path / "ckpt-q3full"),
        files_per_trigger=2,
    ).collect()

    bp = persons.drop("epoch").where(F.col("state").isin("OR", "ID", "CA"))
    ba = auctions.drop("epoch").where(F.col("category") == 10)
    expected = ba.join(bp, ba["seller"] == bp["p_id"]).select(
        "name", "city", "state", "a_id"
    ).collect()
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_nexmark_q11_full_stream_equals_batch(spark, tmp_path):
    """q11 (bid sessions per bidder) end-to-end as a stream on the native
    session_window state store: the drained append output must equal the
    batch session computation, merges included."""
    bids = sources.nexmark_bids(spark, 200, 12).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "bids")
    streaming.write_epoch_files(bids, data_dir)

    # the flush sentinel lands past gap + delay, so the tail sessions close
    got = streaming.run_nexmark_q11_append_stream(
        spark,
        data_dir,
        checkpoint=str(tmp_path / "ckpt-q11full"),
        gap_s=3,
        delay="600 seconds",
        flush_advance_s=3_600,
        files_per_trigger=3,
    ).collect()

    batch = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    expected = (
        batch.groupBy("bidder", F.session_window("b_date_time", "3 seconds"))
        .agg(F.count("*").alias("bid_count"))
        .select(
            "bidder",
            "bid_count",
            F.col("session_window.start").alias("starttime"),
            F.col("session_window.end").alias("endtime"),
        )
        .collect()
    )
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_nexmark_q11_append_stream_equals_batch_and_evicts(spark, tmp_path):
    """q11's APPEND-mode lane (the reference's actual semantic: sessions
    emit on gap timeout, flock-function session.rs:106-140): with the
    flush sentinel pushing the frontier past every real session end, the
    drained closed-session set must equal the batch session computation
    EXACTLY, and the session state store must evict — final rows a small
    constant (the sentinel's own never-expiring session), not the peak.
    This is the state-bounded claim the complete-mode runner cannot
    make, measured from the engine's own stateOperators metrics."""
    bids = sources.nexmark_bids(spark, 200, 12).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "bids")
    streaming.write_epoch_files(bids, data_dir)

    metrics: dict = {}
    got = streaming.run_nexmark_q11_append_stream(
        spark,
        data_dir,
        checkpoint=str(tmp_path / "ckpt-q11append"),
        gap_s=3,
        delay="5 seconds",
        files_per_trigger=3,
        metrics=metrics,
    ).collect()

    batch = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    expected = (
        batch.groupBy("bidder", F.session_window("b_date_time", "3 seconds"))
        .agg(F.count("*").alias("bid_count"))
        .select(
            "bidder",
            "bid_count",
            F.col("session_window.start").alias("starttime"),
            F.col("session_window.end").alias("endtime"),
        )
        .collect()
    )
    assert len(got) > 0
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))

    sess_state = next(
        (
            v
            for k, v in metrics["state_operators"].items()
            if "session" in k.lower()
        ),
        None,
    )
    assert sess_state is not None, metrics
    assert sess_state["peak_rows"] > 10
    # only the sentinel's far-future session may survive eviction
    assert sess_state["final_rows"] <= 2, sess_state
    assert sess_state["final_rows"] < sess_state["peak_rows"]


def test_stateful_ema_transform_with_state(spark, tmp_path):
    """transformWithState-based per-key EMA: the last emission per key
    must equal the batch EMA folded over the key's full ordered history."""
    bids = sources.nexmark_bids(spark, 100, 10).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "bids")
    streaming.write_epoch_files(bids, data_dir)

    stream = streaming.replay_stream(spark, data_dir, 1).drop("epoch")
    result = streaming.stateful_ema(stream, "bidder", "price", "b_date_time")
    rows = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-ema"), mode="update"
    )
    # last emission per key wins (update mode re-emits per batch)
    final = {}
    for r in rows:
        final[r["key"]] = (r["ema"], r["n_obs"])

    import pandas as pd

    hist = (
        bids.drop("epoch")
        .select("bidder", "price", "b_date_time")
        .toPandas()
        # mirrors stateful_ema's deterministic (ts, value) ordering
        .sort_values(["b_date_time", "price"], kind="mergesort")
    )
    alpha = 0.5
    for key, grp in hist.groupby("bidder"):
        ema = None
        for v in grp["price"]:
            v = float(v)
            ema = v if ema is None else alpha * v + (1 - alpha) * ema
        got_ema, got_n = final[key]
        assert got_n == len(grp), key
        assert abs(got_ema - ema) < 1e-9, key


def test_nexmark_q4_full_stream_equals_batch(spark, tmp_path):
    """q4 (avg winning price per category) as THREE chained stateful
    operators in append mode: stream-stream time-interval join, windowed
    per-auction MAX, chained windowed per-category partials — folded to
    the declared averages, they must equal the batch q4 over the same
    generated events (the flush sentinel closes the tail windows)."""
    bids = sources.nexmark_bids(spark, 400, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    auctions = sources.nexmark_auctions(spark, 400, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
    )
    streaming.write_epoch_files(bids, str(tmp_path / "b"))
    streaming.write_epoch_files(auctions, str(tmp_path / "a"))

    got = sorted(
        map(
            tuple,
            streaming.run_nexmark_q4_stream(
                spark,
                str(tmp_path / "b"),
                str(tmp_path / "a"),
                checkpoint=str(tmp_path / "ckpt-q4full"),
                files_per_trigger=3,
            ).collect(),
        )
    )

    bb = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    ba = (
        auctions.drop("epoch")
        .withColumn("a_date_time", F.col("a_date_time").cast("timestamp"))
        .withColumn("expires", F.col("expires").cast("timestamp"))
    )
    winning = (
        ba.join(
            bb,
            (ba["a_id"] == bb["auction"])
            & bb["b_date_time"].between(ba["a_date_time"], ba["expires"]),
        )
        .groupBy("a_id", "category")
        .agg(F.max("price").alias("final"))
    )
    expected = sorted(
        map(
            tuple,
            winning.groupBy("category")
            .agg((F.sum("final").cast("double") / F.count("*")).alias("avg_final"))
            .collect(),
        )
    )
    assert len(got) > 0
    assert [c for c, _ in got] == [c for c, _ in expected]
    for (_, g), (_, e) in zip(got, expected):
        assert abs(g - e) < 1e-9


def test_nexmark_q9_full_stream_equals_batch(spark, tmp_path):
    """q9 (winning bid row per auction) as the incremental interval join +
    windowed struct-argmax: drained winners (wide auction attrs joined
    back) must equal the batch ROW_NUMBER formulation with the identical
    price DESC / ts ASC / bidder ASC tie order."""
    bids = sources.nexmark_bids(spark, 400, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    auctions = sources.nexmark_auctions(spark, 400, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
    )
    streaming.write_epoch_files(bids, str(tmp_path / "b"))
    streaming.write_epoch_files(auctions, str(tmp_path / "a"))

    got = sorted(
        map(
            tuple,
            streaming.run_nexmark_q9_stream(
                spark,
                str(tmp_path / "b"),
                str(tmp_path / "a"),
                checkpoint=str(tmp_path / "ckpt-q9full"),
                files_per_trigger=3,
            ).collect(),
        )
    )

    bb = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    ba = (
        auctions.drop("epoch")
        .withColumn("a_date_time", F.col("a_date_time").cast("timestamp"))
        .withColumn("expires", F.col("expires").cast("timestamp"))
    )
    w = "(PARTITION BY a_id ORDER BY price DESC, b_date_time ASC, bidder ASC)"
    expected = sorted(
        map(
            tuple,
            ba.join(
                bb,
                (ba["a_id"] == bb["auction"])
                & bb["b_date_time"].between(ba["a_date_time"], ba["expires"]),
            )
            .withColumn("rn", F.expr(f"ROW_NUMBER() OVER {w}"))
            .where(F.col("rn") == 1)
            .select(
                "a_id",
                "item_name",
                "seller",
                "category",
                "a_date_time",
                "expires",
                "bidder",
                "price",
                F.col("b_date_time").alias("bid_date_time"),
            )
            .collect(),
        )
    )
    assert len(got) > 0
    assert got == expected


def test_nexmark_q6_full_stream_equals_batch(spark, tmp_path):
    """q6 (avg of each seller's last 10 closed auctions) as a two-query
    topology: winners pipeline → parquet channel → keyed-state last-11
    frame. The final per-seller emission must equal the batch frame
    average at each seller's last winner (same winner tie order)."""
    bids = sources.nexmark_bids(spark, 400, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    auctions = sources.nexmark_auctions(spark, 400, 6).withColumn(
        "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
    )
    streaming.write_epoch_files(bids, str(tmp_path / "b"))
    streaming.write_epoch_files(auctions, str(tmp_path / "a"))

    got = {
        r["seller"]: (r["avg_last10"], r["n_in_frame"])
        for r in streaming.run_nexmark_q6_stream(
            spark,
            str(tmp_path / "b"),
            str(tmp_path / "a"),
            checkpoint=str(tmp_path / "ckpt-q6full"),
            winners_path=str(tmp_path / "q6-winners"),
            files_per_trigger=3,
        ).collect()
    }

    bb = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    ba = (
        auctions.drop("epoch")
        .withColumn("a_date_time", F.col("a_date_time").cast("timestamp"))
        .withColumn("expires", F.col("expires").cast("timestamp"))
    )
    wsel = "(PARTITION BY a_id ORDER BY price DESC, b_date_time ASC, bidder ASC)"
    frame = (
        "(PARTITION BY seller ORDER BY win_ts, a_id "
        "ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)"
    )
    wlast = "(PARTITION BY seller ORDER BY win_ts DESC, a_id DESC)"
    expected = {
        r["seller"]: (r["avg_last10"], r["n_in_frame"])
        for r in ba.join(
            bb,
            (ba["a_id"] == bb["auction"])
            & bb["b_date_time"].between(ba["a_date_time"], ba["expires"]),
        )
        .select(
            "a_id", "seller", F.col("price").alias("final"),
            F.col("b_date_time").alias("win_ts"),
            F.expr(f"ROW_NUMBER() OVER {wsel}").alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            "seller",
            "a_id",
            "win_ts",
            F.expr(
                f"CAST(SUM(final) OVER {frame} AS DOUBLE)"
                f" / COUNT(*) OVER {frame}"
            ).alias("avg_last10"),
            F.expr(f"COUNT(*) OVER {frame}").alias("n_in_frame"),
        )
        .withColumn("rn2", F.expr(f"ROW_NUMBER() OVER {wlast}"))
        .where(F.col("rn2") == 1)
        .collect()
    }
    assert len(got) > 0
    assert set(got) == set(expected)
    for k in got:
        assert got[k][1] == expected[k][1], k
        assert abs(got[k][0] - expected[k][0]) < 1e-9, k


def test_q4_stream_plans_three_chained_stateful_operators(spark, tmp_path):
    """The q4 pipeline must plan as ONE streaming query with a symmetric
    stream-stream hash join and TWO state-store aggregations — the
    incremental shape SCALING.md claims. Losing an operator (or gaining
    a re-computation stage) is a scale regression."""
    import contextlib
    import io

    bids = sources.nexmark_bids(spark, 100, 2).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    auctions = sources.nexmark_auctions(spark, 100, 2).withColumn(
        "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
    )
    streaming.write_epoch_files(bids, str(tmp_path / "b"))
    streaming.write_epoch_files(auctions, str(tmp_path / "a"))

    df = streaming.nexmark_q4_stream(
        spark, str(tmp_path / "b"), str(tmp_path / "a"), files_per_trigger=10
    )
    q = (
        df.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt-q4plan"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain()
    plan = buf.getvalue()
    assert "StreamingSymmetricHashJoin" in plan
    assert plan.count("StateStoreSave") == 2


def test_rocksdb_state_store_q4_chained_pipeline(spark, tmp_path):
    """The heaviest multi-stateful pipeline (q4: stream-stream join + two
    chained windowed aggs) must run green on the RocksDB provider too —
    its three state stores are exactly the state that outgrows executor
    heap first on a cluster. Result must equal the batch q4."""
    from squirtle_spark.session import (
        _STATE_STORE_KEY,
        STATE_STORE_PROVIDERS,
        configure_state_store,
    )

    try:
        prev = spark.conf.get(_STATE_STORE_KEY)
    except Exception:
        prev = None
    assert configure_state_store(spark, "rocksdb") == STATE_STORE_PROVIDERS["rocksdb"]
    try:
        bids = sources.nexmark_bids(spark, 300, 4).withColumn(
            "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
        )
        auctions = sources.nexmark_auctions(spark, 300, 4).withColumn(
            "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
        )
        streaming.write_epoch_files(bids, str(tmp_path / "b"))
        streaming.write_epoch_files(auctions, str(tmp_path / "a"))

        got = sorted(
            map(
                tuple,
                streaming.run_nexmark_q4_stream(
                    spark,
                    str(tmp_path / "b"),
                    str(tmp_path / "a"),
                    checkpoint=str(tmp_path / "ckpt-q4-rocks"),
                    files_per_trigger=3,
                ).collect(),
            )
        )

        bb = bids.drop("epoch").withColumn(
            "b_date_time", F.col("b_date_time").cast("timestamp")
        )
        ba = (
            auctions.drop("epoch")
            .withColumn("a_date_time", F.col("a_date_time").cast("timestamp"))
            .withColumn("expires", F.col("expires").cast("timestamp"))
        )
        expected = sorted(
            map(
                tuple,
                ba.join(
                    bb,
                    (ba["a_id"] == bb["auction"])
                    & bb["b_date_time"].between(ba["a_date_time"], ba["expires"]),
                )
                .groupBy("a_id", "category")
                .agg(F.max("price").alias("final"))
                .groupBy("category")
                .agg(
                    (F.sum("final").cast("double") / F.count("*")).alias("avg_final")
                )
                .collect(),
            )
        )
        assert len(got) > 0
        assert [c for c, _ in got] == [c for c, _ in expected]
        for (_, g), (_, e) in zip(got, expected):
            assert abs(g - e) < 1e-9
    finally:
        if prev is None:
            spark.conf.unset(_STATE_STORE_KEY)
        else:
            spark.conf.set(_STATE_STORE_KEY, prev)


def test_q4_stream_recovers_from_checkpoint_mid_replay(spark, tmp_path):
    """Kill the q4 chained pipeline mid-replay and restart from the same
    checkpoint into an exactly-once file sink: the union of committed
    partials across both runs must fold to the exact batch q4 answer —
    join buffers and both agg state stores recover, nothing double-emits
    (flock's PROCESSED_WINDOWS idempotence, subsumed by checkpoint +
    sink commit log).

    The kill is gated on committed batches, not a wall-clock sleep: it
    must land while both replays still have files to read. A restart
    after the 5-file auction replay is exhausted never advances the
    watermark (the min policy holds an operator that has seen no rows
    since the restart at 0), so nothing would ever emit."""
    import time as _time

    bids = sources.nexmark_bids(spark, 400, 10).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    auctions = sources.nexmark_auctions(spark, 400, 10).withColumn(
        "epoch", F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000
    )
    streaming.write_epoch_files(bids, str(tmp_path / "b"))
    streaming.write_epoch_files(auctions, str(tmp_path / "a"))
    for path, ts, keys in (
        (str(tmp_path / "b"), "b_date_time", ["auction", "bidder"]),
        (str(tmp_path / "a"), "a_date_time", ["a_id", "seller"]),
    ):
        streaming.write_flush_epoch(spark, path, ts, 3600, keys)
    out = str(tmp_path / "q4-partials")
    ckpt = str(tmp_path / "ckpt-q4-recover")

    def start():
        df = streaming.nexmark_q4_stream(
            spark, str(tmp_path / "b"), str(tmp_path / "a"), files_per_trigger=1
        )
        return (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    deadline = _time.time() + 300
    while _time.time() < deadline and len(q1.recentProgress) < 2:
        _time.sleep(0.05)
    assert q1.isActive
    q1.stop()  # interrupt mid-replay (uncommitted batch is fine: the sink
    # commit log only exposes committed files to readers)
    q2 = start()
    assert q2.awaitTermination(300)

    got = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .groupBy("category")
            .agg(
                (F.sum("sum_final").cast("double") / F.sum("n_auctions")).alias(
                    "avg_final"
                )
            )
            .collect(),
        )
    )
    bb = bids.drop("epoch").withColumn(
        "b_date_time", F.col("b_date_time").cast("timestamp")
    )
    ba = (
        auctions.drop("epoch")
        .withColumn("a_date_time", F.col("a_date_time").cast("timestamp"))
        .withColumn("expires", F.col("expires").cast("timestamp"))
    )
    expected = sorted(
        map(
            tuple,
            ba.join(
                bb,
                (ba["a_id"] == bb["auction"])
                & bb["b_date_time"].between(ba["a_date_time"], ba["expires"]),
            )
            .groupBy("a_id", "category")
            .agg(F.max("price").alias("final"))
            .groupBy("category")
            .agg((F.sum("final").cast("double") / F.count("*")).alias("avg_final"))
            .collect(),
        )
    )
    assert len(got) > 0
    assert [c for c, _ in got] == [c for c, _ in expected]
    for (_, g), (_, e) in zip(got, expected):
        assert abs(g - e) < 1e-9


def test_stateful_anomaly_equals_batch(spark, sf_dir, tmp_path):
    """The streaming anomaly monitor (keyed last-7 state over a
    pre-aggregated bucket channel) must emit exactly the batch
    ts_anomaly flags — same strictly-prior baseline, same arithmetic."""
    from squirtle_spark import catalog
    from squirtle_spark import dialect as dl
    from squirtle_spark.registry import load_all

    catalog.register_all(spark, sf_dir)
    hour = dl.tumble_start("ts", 3600, dl.SPARK)
    hourly = spark.sql(f"""
        SELECT event_type, {hour} AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type, {hour}
    """)
    # epochs ordered by bucket so arrival order == series order (<=10 dirs
    # keeps lexicographic dir order numeric)
    hourly = hourly.withColumn(
        "epoch",
        F.expr(
            "CAST(DENSE_RANK() OVER (ORDER BY bucket) AS INT) DIV 90"
        ),
    )
    streaming.write_epoch_files(hourly, str(tmp_path / "buckets"))

    stream = streaming.replay_stream(
        spark, str(tmp_path / "buckets"), files_per_trigger=2
    ).drop("epoch")
    flagged = streaming.stateful_anomaly(stream, "event_type", "bucket", "cnt")
    rows = streaming.run_available_now(
        flagged, checkpoint=str(tmp_path / "ckpt-anom"), mode="update"
    )
    got = sorted(
        (r["series_key"], r["bucket"], r["cnt"], r["roll_mean"], r["roll_std"], r["is_anomaly"])
        for r in rows
    )

    expected = sorted(
        (r["event_type"], r["bucket_hour"], r["cnt"], r["roll_mean"], r["roll_std"], bool(r["is_anomaly"]))
        for r in load_all()["ts_anomaly"].spark_fn(spark, sf_dir).collect()
    )
    assert len(got) == len(expected) > 0
    assert got == expected


def test_transform_with_state_proc_window_count(spark, tmp_path):
    """q12's per-key processing-time tumble on the MODERN stateful API
    (transformWithStateInPandas + processing-time timers, RocksDB-backed).
    Boundary placement is nondeterministic by definition, so the pinned
    property is the q12 invariant: emitted windows PARTITION each key's
    rows — per-key sum(n) equals exactly what was pushed, no loss, no
    double count. Two bursts 2.5 s apart (windows are 1 s) force at
    least one timer-finalized window mid-stream.

    Gated on protobuf: transformWithState's Python runner imports
    google.protobuf at query start (pyspark 4.1 ships a generated
    StateMessage_pb2 for its state-server protocol); this sandbox has no
    protobuf wheel and installs are off-limits, so the test skips here
    and runs wherever the standard pyspark[connect] deps exist."""
    import json
    import socket
    import threading
    import time as _time

    import pytest

    pytest.importorskip(
        "google.protobuf", reason="transformWithState runner needs protobuf"
    )

    from squirtle_spark import sources
    from squirtle_spark.session import (
        _STATE_STORE_KEY,
        STATE_STORE_PROVIDERS,
        configure_state_store,
    )

    burst1 = [{"bidder": k, "price": i} for k in (1, 2, 3) for i in range(k * 4)]
    burst2 = [{"bidder": k, "price": 100 + i} for k in (2, 3, 4) for i in range(k * 2)]
    pushed: dict[int, int] = {}
    for e in burst1 + burst2:
        pushed[e["bidder"]] = pushed.get(e["bidder"], 0) + 1

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve() -> None:
        conn, _ = srv.accept()
        with conn:
            conn.sendall("".join(json.dumps(e) + "\n" for e in burst1).encode())
            _time.sleep(2.5)
            conn.sendall("".join(json.dumps(e) + "\n" for e in burst2).encode())
            stop.wait(90)  # hold the connection while timers drain windows

    threading.Thread(target=serve, daemon=True).start()

    try:
        prev = spark.conf.get(_STATE_STORE_KEY)
    except Exception:
        prev = None
    assert configure_state_store(spark, "rocksdb") == STATE_STORE_PROVIDERS["rocksdb"]
    stream = sources.socket_json_stream(
        spark, "127.0.0.1", port, "bidder BIGINT, price BIGINT"
    )
    result = streaming.stateful_proc_window_count(stream, "bidder", window_s=1)
    q = (
        result.writeStream.format("memory")
        .queryName("proc_win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-tws"))
        .start()
    )
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline:
            got = {
                r["key"]: r["total"]
                for r in spark.sql(
                    "SELECT key, CAST(SUM(n) AS BIGINT) AS total FROM proc_win_counts GROUP BY key"
                ).collect()
            }
            if got == pushed:
                break
            _time.sleep(0.5)
        rows = spark.sql("SELECT * FROM proc_win_counts").collect()
    finally:
        q.stop()
        stop.set()
        srv.close()
        if prev is not None:
            spark.conf.set(_STATE_STORE_KEY, prev)
        else:
            spark.conf.unset(_STATE_STORE_KEY)

    totals: dict[int, int] = {}
    for r in rows:
        totals[r["key"]] = totals.get(r["key"], 0) + r["n"]
    assert totals == pushed  # windows partition each key's rows exactly
    # the 2.5 s gap guarantees burst-1 keys finalized at least one window
    # before their burst-2 rows arrived (timer or new-window eager flush)
    assert len({(r["key"], r["win_start_ms"]) for r in rows}) == len(rows), "dup windows"
    assert len({r["win_start_ms"] for r in rows}) >= 2


def test_proc_window_count_state_machine_unit():
    """Drive ProcWindowCount's logic directly with a fake handle — the
    protobuf-gated integration path is not the only evidence. Scenarios:
    same-window accumulation, timer finalization, eager flush when a
    later window's rows arrive before the old timer, and stale-timer
    suppression. Invariant: emitted windows partition the input rows."""
    import pandas as pd

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self):
            self.state = FakeState()
            self.timers = set()

        def getValueState(self, name, schema):
            return self.state

        def registerTimer(self, t):
            self.timers.add(t)

        def deleteTimer(self, t):
            self.timers.discard(t)

    class TV:
        def __init__(self, now_ms):
            self._now = now_ms

        def getCurrentProcessingTimeInMs(self):
            return self._now

    class ExpInfo:
        def __init__(self, t):
            self._t = t

        def getExpiryTimeInMs(self):
            return self._t

    p = streaming.ProcWindowCount(win_ms=1000)
    h = FakeHandle()
    p.init(h)
    key = (7,)
    emitted = []

    def feed(n_rows, now_ms):
        out = list(p.handleInputRows(key, iter([pd.DataFrame({"x": range(n_rows)})]), TV(now_ms)))
        emitted.extend(out)

    def fire(expiry_ms):
        # the engine removes an expired timer before invoking the handler
        h.timers.discard(expiry_ms)
        emitted.extend(p.handleExpiredTimer(key, TV(expiry_ms), ExpInfo(expiry_ms)))

    # two batches inside window [0, 1000): accumulate, one timer at 1000
    feed(3, now_ms=100)
    feed(2, now_ms=900)
    assert h.state.get() == (0, 5) and h.timers == {1000}
    assert emitted == []

    # the timer fires: window [0,1000) finalizes with 5 rows, state clears
    fire(1000)
    assert h.state.exists() is False
    assert [tuple(e.iloc[0]) for e in emitted] == [(7, 0, 5)]

    # stale-timer after finalize: no double emission
    fire(1000)
    assert len(emitted) == 1

    # rows in window [2000,3000), then rows in [4000,5000) BEFORE the 3000
    # timer fires -> eager flush of the old window, old timer deleted
    feed(4, now_ms=2500)
    assert h.timers == {3000}
    feed(6, now_ms=4200)
    assert h.timers == {5000}, h.timers
    assert [tuple(e.iloc[0]) for e in emitted] == [(7, 0, 5), (7, 2000, 4)]

    # a belatedly-delivered stale expiry for 3000 must not re-emit
    fire(3000)
    assert len(emitted) == 2
    # the live window finalizes normally
    fire(5000)
    rows = [tuple(e.iloc[0]) for e in emitted]
    assert rows == [(7, 0, 5), (7, 2000, 4), (7, 4000, 6)]
    assert sum(r[2] for r in rows) == 3 + 2 + 4 + 6  # partition invariant


def test_proc_window_count_virtual_clock_equals_sql_twin(spark):
    """q12 made DETERMINISTIC end-to-end (VERDICT r8 item 9): the
    ProcWindowCount state machine is driven under the SAME injected
    virtual clock the value-oracled ``nexmark_q12_virtual_clock`` twin
    uses (arrival = event second + md5-derived queueing delay), and its
    emitted windows must equal the SQL twin's rows EXACTLY — not just
    the partition invariant. This welds the streaming q12 path to a
    full value oracle: the machine's windowing logic and the oracled
    SQL can no longer drift apart unnoticed."""
    import pandas as pd

    from squirtle_spark import catalog
    from squirtle_spark import dialect as dl
    from squirtle_spark.queries import nexmark

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self):
            self.states = {}
            self.timers = set()

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeState())

        def registerTimer(self, t):
            self.timers.add(t)

        def deleteTimer(self, t):
            self.timers.discard(t)

    class TV:
        def __init__(self, now_ms):
            self._now = now_ms

        def getCurrentProcessingTimeInMs(self):
            return self._now

    class ExpInfo:
        def __init__(self, t):
            self._t = t

        def getExpiryTimeInMs(self):
            return self._t

    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    # bids per bidder straddling several 10 s virtual windows; prices
    # vary so the md5 delays do too
    rows = [
        (bidder, base + timedelta(seconds=s), auction, price)
        for bidder, auction, price, s in [
            (1, 100, 5, 0), (1, 100, 17, 4), (1, 101, 9, 8),
            (1, 101, 23, 12), (1, 102, 40, 27),
            (2, 100, 11, 2), (2, 103, 3, 9), (2, 103, 8, 33),
        ]
    ]
    bid = spark.createDataFrame(
        rows, "bidder BIGINT, b_date_time TIMESTAMP_NTZ, auction BIGINT, price BIGINT"
    )
    bid.createOrReplaceTempView("bid")
    catalog.invalidate(spark)
    try:
        twin = {
            (r["bidder"], r["win_start_s"]): r["bid_count"]
            for r in spark.sql(nexmark._q12_virtual_clock(dl.SPARK)).collect()
        }
        # the same virtual clock, computed row-by-row for the replay
        t = dl.epoch_s("b_date_time", dl.SPARK)
        concat = f"concat_ws('|', auction, bidder, price, CAST({t} AS STRING))"
        arrivals = spark.sql(
            f"SELECT bidder, {t} + ({dl.md5_i64(concat, dl.SPARK)} % 5) "
            f"AS arrival_s FROM bid"
        ).collect()
    finally:
        spark.catalog.dropTempView("bid")
        catalog.invalidate(spark)

    # replay through the state machine per key in arrival order, the
    # injected clock being exactly the arrival sequence
    emitted = []
    by_key: dict = {}
    for r in sorted(arrivals, key=lambda r: (r["bidder"], r["arrival_s"])):
        by_key.setdefault(r["bidder"], []).append(r["arrival_s"])
    for bidder, arr_list in by_key.items():
        p = streaming.ProcWindowCount(win_ms=10_000)
        h = FakeHandle()
        p.init(h)
        key = (bidder,)
        for arr_s in arr_list:
            emitted.extend(
                p.handleInputRows(
                    key,
                    iter([pd.DataFrame({"x": [0]})]),
                    TV(arr_s * 1000),
                )
            )
        # end of stream: fire the remaining timer(s), engine-style
        for t in sorted(h.timers):
            h.timers.discard(t)
            emitted.extend(p.handleExpiredTimer(key, TV(t), ExpInfo(t)))

    machine = {}
    for e in emitted:
        k, w, n = tuple(e.iloc[0])
        machine[(k, w // 1000)] = machine.get((k, w // 1000), 0) + n
    assert machine == twin


def test_stream_dimension_enrich_equals_batch_asof(spark, tmp_path):
    """Stream-static SCD2 enrichment: every replayed event picks up the
    dimension row valid AT its event time; the drained stream must equal
    the identical batch interval join."""
    from squirtle_spark import catalog

    catalog.register_all(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"))
    dim = spark.sql(
        __import__("squirtle_spark.operators.warehouse", fromlist=["_scd2_dimension"])
        ._scd2_dimension("spark")
    ).cache()
    events = spark.table("events").select("event_id", "user_id", "ts").limit(4000)
    staged = events.withColumn(
        "epoch", F.unix_timestamp(F.col("ts").cast("timestamp")) % 7
    )
    streaming.write_epoch_files(staged, str(tmp_path / "ev"))
    stream = streaming.replay_stream(spark, str(tmp_path / "ev"), 3).drop("epoch")

    enriched = streaming.stream_dimension_enrich(stream, dim, "user_id", "ts")
    rows = streaming.run_available_now(
        enriched.select("event_id", "attr_value", "version"),
        checkpoint=str(tmp_path / "ckpt-enrich"),
        mode="append",
    )

    cond = (
        (events["user_id"] == dim["user_id"])
        & (events["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (events["ts"] < dim["valid_to"]))
    )
    expected = events.join(dim, cond).select("event_id", "attr_value", "version").collect()
    assert len(rows) > 0
    assert sorted(map(tuple, rows)) == sorted(map(tuple, expected))


def test_cdc_sink_converges_to_global_net_effect(spark, tmp_path):
    """Streaming CDC apply: replaying a changelog of upserts and deletes
    in micro-batches must converge the versioned table to the per-key
    global-max-seq row (tombstones included), read_cdc_snapshot must hide
    deleted keys, every batch must have committed a snapshot, and
    rollback must restore an earlier table state."""
    changes = (
        spark.range(1000)
        .selectExpr(
            "id % 40 AS key",
            "id AS seq",
            "CASE WHEN id % 10 = 7 THEN 'D' ELSE 'U' END AS op",
            "CAST(id AS DOUBLE) * 1.5 AS val",
            "CAST(id DIV 50 AS INT) AS epoch",
        )
    )
    data_dir = str(tmp_path / "cdc-log")
    streaming.write_epoch_files(changes, data_dir)
    stream = streaming.replay_stream(spark, data_dir, files_per_trigger=1).drop(
        "epoch"
    )

    table = str(tmp_path / "cdc-table")
    q = streaming.cdc_sink(
        stream,
        table,
        keys=["key"],
        seq_col="seq",
        op_col="op",
        checkpoint=str(tmp_path / "ckpt-cdc"),
    )
    assert q.awaitTermination(300)

    from squirtle_spark.operators import maintenance

    n_versions = maintenance.latest_version(spark, table)
    assert n_versions == 20  # one committed snapshot per non-empty batch

    # expected: per-key winner = max seq (ids 960..999); keys whose winner
    # is a delete (ids 967/977/987/997 -> keys 7,17,27,37) are hidden
    live = streaming.read_cdc_snapshot(spark, table, "op")
    got = {r["key"]: (r["seq"], r["val"]) for r in live.collect()}
    expected = {
        k: (960 + k, (960 + k) * 1.5)
        for k in range(40)
        if (960 + k) % 10 != 7
    }
    assert got == expected
    # tombstones are IN the snapshot (order-insensitivity depends on them)
    snap = maintenance.read_version(spark, table)
    assert snap.count() == 40 and snap.where("op = 'D'").count() == 4

    # time travel: version 1 is the first batch's net effect alone
    v1 = maintenance.read_version(spark, table, 1)
    assert v1.count() == 40  # ids 0..49 cover all 40 keys
    assert {r["seq"] for r in v1.collect()} == set(range(10, 50))

    # rollback is a pointer rewrite: the committed read becomes v1
    maintenance.rollback(spark, table, 1)
    assert maintenance.latest_version(spark, table) == 1
    assert streaming.read_cdc_snapshot(spark, table, "op").count() == 36

    # batching invariance: a replay with coarser micro-batches (7 files
    # per trigger, so changes group differently) must converge to the
    # SAME live table — the max-seq tombstone merge is order-free
    table2 = str(tmp_path / "cdc-table-2")
    q2 = streaming.cdc_sink(
        streaming.replay_stream(spark, data_dir, files_per_trigger=7).drop("epoch"),
        table2,
        keys=["key"],
        seq_col="seq",
        op_col="op",
        checkpoint=str(tmp_path / "ckpt-cdc-2"),
    )
    assert q2.awaitTermination(300)
    live2 = streaming.read_cdc_snapshot(spark, table2, "op")
    assert {r["key"]: (r["seq"], r["val"]) for r in live2.collect()} == expected

    # a snapshot seeded from an initial load has NULL op: those rows are
    # LIVE (op IS NULL OR op != 'D' — the cdc_merge_apply guard), not
    # silently filtered by a three-valued != comparison
    seeded = str(tmp_path / "seeded")
    maintenance.versioned_write(
        spark,
        spark.range(3).selectExpr(
            "id AS key",
            "CAST(-1 AS BIGINT) AS seq",
            "CAST(NULL AS STRING) AS op",
            "CAST(0 AS DOUBLE) AS val",
        ),
        seeded,
    )
    assert streaming.read_cdc_snapshot(spark, seeded, "op").count() == 3


def test_cdc_sink_onto_opless_seed(spark, tmp_path):
    """A snapshot seeded by versioned_write from a plain initial load
    carries NO op/seq columns at all (read_cdc_snapshot documents the
    case). cdc_sink's merge must union the seed in with NULL op/seq —
    seed rows lose to any real change for their key (NULLS LAST under
    the seq DESC winner rule) and survive as live rows otherwise — not
    die with an AnalysisException on the first batch."""
    from squirtle_spark.operators import maintenance

    table = str(tmp_path / "seeded-cdc")
    maintenance.versioned_write(
        spark,
        spark.range(5).selectExpr("id AS key", "CAST(id AS DOUBLE) AS val"),
        table,
    )

    changes = spark.createDataFrame(
        [(1, 100, "U", 111.0), (3, 101, "D", 0.0)],
        "key long, seq long, op string, val double",
    )
    data_dir = str(tmp_path / "log")
    streaming.write_epoch_files(changes.withColumn("epoch", F.lit(0)), data_dir)
    q = streaming.cdc_sink(
        streaming.replay_stream(spark, data_dir, files_per_trigger=1).drop("epoch"),
        table,
        keys=["key"],
        seq_col="seq",
        op_col="op",
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)

    live = streaming.read_cdc_snapshot(spark, table, "op")
    got = {r["key"]: r["val"] for r in live.collect()}
    # key 1 updated, key 3 tombstoned, keys 0/2/4 are untouched seed rows
    assert got == {0: 0.0, 1: 111.0, 2: 2.0, 4: 4.0}


def test_cdc_mor_converges_like_cdc_sink(spark, tmp_path):
    """The merge-on-read lane must converge to the SAME live table as the
    snapshot-per-batch sink under the same changelog (shared max-seq
    tombstone rule), through both mid-stream compactions and the
    un-compacted tail, and an explicit final compaction must fold the
    tail into a committed snapshot identical to the merged read."""
    from squirtle_spark.operators import maintenance

    changes = spark.range(1000).selectExpr(
        "id % 40 AS key",
        "id AS seq",
        "CASE WHEN id % 10 = 7 THEN 'D' ELSE 'U' END AS op",
        "CAST(id AS DOUBLE) * 1.5 AS val",
        "CAST(id DIV 50 AS INT) AS epoch",
    )
    data_dir = str(tmp_path / "log")
    streaming.write_epoch_files(changes, data_dir)

    mor = str(tmp_path / "mor")
    q = streaming.cdc_mor_sink(
        streaming.replay_stream(spark, data_dir, files_per_trigger=1).drop("epoch"),
        mor,
        keys=["key"],
        seq_col="seq",
        op_col="op",
        checkpoint=str(tmp_path / "ckpt"),
        compact_every=6,  # 20 batches -> 3 compactions + an 2-entry tail
    )
    assert q.awaitTermination(300)

    expected = {
        k: (960 + k, (960 + k) * 1.5)
        for k in range(40)
        if (960 + k) % 10 != 7
    }
    live = streaming.read_cdc_mor(spark, mor, "op", ["key"], "seq")
    assert {r["key"]: (r["seq"], r["val"]) for r in live.collect()} == expected

    # compactions happened mid-stream AND a tail is pending
    assert maintenance.latest_version(spark, mor) >= 2
    assert len(streaming._mor_log_dirs(spark, mor)) > 0

    # eager final fold: snapshot alone now carries the full state
    v = streaming.compact_cdc_mor(spark, mor, ["key"], "seq")
    assert v is not None and streaming._mor_log_dirs(spark, mor) == []
    snap_live = streaming.read_cdc_snapshot(spark, mor, "op")
    assert {r["key"]: (r["seq"], r["val"]) for r in snap_live.collect()} == expected
    # double-compaction is a no-op with no pending log
    assert streaming.compact_cdc_mor(spark, mor, ["key"], "seq") is None


def test_stateful_trailing_window_equals_batch(spark, sf_dir, tmp_path):
    """The streamed continuous trailing-hour window (keyed event-buffer
    state) must emit, for every event, EXACTLY the batch win_time_range
    RANGE frame's count and sum — peers included, DECIMAL-exact sums.
    Epoch files partition on whole seconds so equal-ts peers share a
    micro-batch (the operator's documented peer-delivery contract)."""
    from squirtle_spark import catalog
    from squirtle_spark.registry import load_all

    catalog.register_all(spark, sf_dir)
    ev = spark.sql(
        """SELECT event_id, user_id,
                  unix_timestamp(CAST(ts AS TIMESTAMP)) AS sec, value
           FROM events"""
    )
    # bucket epochs into <=12 ordered dirs (time-ordered replay)
    ev = ev.withColumn(
        "epoch",
        F.expr("CAST(DENSE_RANK() OVER (ORDER BY sec) AS INT) DIV 1000"),
    )
    streaming.write_epoch_files(ev, str(tmp_path / "ev"))

    stream = streaming.replay_stream(
        spark, str(tmp_path / "ev"), files_per_trigger=3
    ).drop("epoch")
    out = streaming.stateful_trailing_window(stream, "user_id", "sec", "value")
    rows = streaming.run_available_now(
        out, checkpoint=str(tmp_path / "ckpt-trail"), mode="append"
    )
    got = {
        r["event_id"]: (r["user_id"], r["n_trailing_hour"], r["sum_trailing_hour"])
        for r in rows
    }

    batch = load_all()["win_time_range"].spark_fn(spark, sf_dir).collect()
    want = {
        r["event_id"]: (r["user_id"], r["n_trailing_hour"], r["sum_trailing_hour"])
        for r in batch
    }
    assert len(got) == len(want) > 0
    assert got == want  # bit-exact: quantized integer accumulation


def test_interval_overlap_stream_equals_batch(spark, sf_dir, tmp_path):
    """The stream-stream range join must emit exactly the batch
    interval_overlap_join's pair set (same overlap predicate, watermarked
    state instead of a bucketed batch join)."""
    from squirtle_spark import catalog
    from squirtle_spark.operators import rangejoin

    catalog.register_all(spark, sf_dir)
    ev = spark.table("events")
    views = ev.where("event_type = 'view'").selectExpr(
        "event_id AS view_id",
        "user_id",
        "ts AS v_start",
        "CAST(unix_timestamp(CAST(ts AS TIMESTAMP)) DIV 86400 AS INT) AS epoch",
    )
    purchases = ev.where("event_type = 'purchase'").selectExpr(
        "event_id AS purchase_id",
        "user_id",
        "ts AS p_start",
        "CAST(unix_timestamp(CAST(ts AS TIMESTAMP)) DIV 86400 AS INT) AS epoch",
    )
    streaming.write_epoch_files(views, str(tmp_path / "v"))
    streaming.write_epoch_files(purchases, str(tmp_path / "p"))

    got = streaming.run_interval_overlap_stream(
        spark,
        str(tmp_path / "v"),
        str(tmp_path / "p"),
        checkpoint=str(tmp_path / "ckpt-iv"),
        view_len_s=rangejoin._VIEW_LEN,
        purch_len_s=rangejoin._PURCH_LEN,
    )
    got_pairs = {(r["view_id"], r["purchase_id"]) for r in got.collect()}

    vb = ev.where("event_type = 'view'").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("v_start"),
        F.expr(f"ts + INTERVAL {rangejoin._VIEW_LEN} SECOND").alias("v_end"),
    )
    pb = ev.where("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_start"),
        F.expr(f"ts + INTERVAL {rangejoin._PURCH_LEN} SECOND").alias("p_end"),
    )
    batch = rangejoin.interval_overlap_join(
        vb, pb, key="user_id",
        left_start="v_start", left_end="v_end",
        right_start="p_start", right_end="p_end",
        max_len_s=rangejoin._PURCH_LEN,
    )
    want_pairs = {(r["view_id"], r["purchase_id"]) for r in batch.collect()}
    assert len(got_pairs) == len(want_pairs) > 0
    assert got_pairs == want_pairs


def test_stateful_trailing_window_generic_key(spark, tmp_path):
    """The operator's key column is the CALLER's name, not a hardcoded
    user_id (round-6 review finding): a campaign_id-keyed stream emits a
    campaign_id column with per-key trailing counts."""
    rows = [(i, i % 3, 100 + i, 1.0, 0) for i in range(30)]
    df = spark.createDataFrame(
        rows, "event_id long, campaign_id long, sec long, value double, epoch int"
    )
    streaming.write_epoch_files(df, str(tmp_path / "ev"))
    stream = streaming.replay_stream(spark, str(tmp_path / "ev"), 1).drop("epoch")
    out = streaming.stateful_trailing_window(
        stream, "campaign_id", "sec", "value", window_s=5
    )
    rows_out = streaming.run_available_now(
        out, checkpoint=str(tmp_path / "ckpt"), mode="append"
    )
    assert rows_out
    assert "campaign_id" in rows_out[0].asDict()
    by_eid = {r["event_id"]: r for r in rows_out}
    # event 6 (campaign 0, sec 106): trailing 5s window holds secs 101-106
    # of campaign 0 -> events 3 and 6
    assert by_eid[6]["campaign_id"] == 0
    assert by_eid[6]["n_trailing_hour"] == 2


def test_write_flush_epoch_is_idempotent(spark, tmp_path):
    """The sentinel's time comes from the real epochs, not from the
    sentinel a previous call wrote (that moved it one ``advance_s``
    further per call), and a call that finds it in place writes nothing:
    the sentinel file stays the same file."""
    import datetime as dt

    bids = sources.nexmark_bids(spark, 100, 4).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = tmp_path / "bids"
    streaming.write_epoch_files(bids, str(data_dir))
    hi = bids.agg(F.max(F.col("b_date_time").cast("timestamp"))).first()[0]
    flush_dir = data_dir / f"epoch={streaming._FLUSH_EPOCH}"

    def sentinel():
        (row,) = (
            spark.read.parquet(str(data_dir))
            .where(F.col("epoch") == streaming._FLUSH_EPOCH)
            .collect()
        )
        files = {
            f.name: f.stat().st_mtime_ns
            for f in flush_dir.iterdir()
            if f.name.endswith(".parquet")
        }
        return row, files

    streaming.write_flush_epoch(spark, str(data_dir), "b_date_time", 3600, ["auction", "bidder"])
    first, first_files = sentinel()
    sc = spark.sparkContext
    sc.setJobGroup("flush-repeat", "repeat write_flush_epoch")
    try:
        streaming.write_flush_epoch(
            spark, str(data_dir), "b_date_time", 3600, ["auction", "bidder"]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # an unchanged dir listing is checked without a Spark job
    assert list(sc.statusTracker().getJobIdsForGroup("flush-repeat")) == []
    second, second_files = sentinel()

    assert first["b_date_time"] == second["b_date_time"] == hi + dt.timedelta(seconds=3600)
    assert first["auction"] == first["bidder"] == -1
    assert second_files == first_files and len(first_files) == 1

    # a data file written after the sentinel would replay after it (the
    # file source reads in modification-time order): rewrite the sentinel
    bids.where(F.col("epoch") == bids.agg(F.min("epoch")).first()[0]).write.mode(
        "append"
    ).partitionBy("epoch").parquet(str(data_dir))
    streaming.write_flush_epoch(spark, str(data_dir), "b_date_time", 3600, ["auction", "bidder"])
    third, third_files = sentinel()
    assert third["b_date_time"] == first["b_date_time"]
    assert third_files.keys() != first_files.keys()


def test_flushed_dir_does_not_contaminate_other_topologies(spark, sf_dir, tmp_path):
    """A dir mutated by write_flush_epoch (q4/q8/q9's watermark flush) is
    later re-read by q5/q11: the sentinel row must never surface as an
    auction=-1 hot item or a bidder=-1 session (round-6 review)."""
    from squirtle_spark import catalog

    catalog.register_all(spark, sf_dir)
    bids = spark.table("bid").limit(4000)
    streaming.write_epoch_files(
        bids.withColumn("epoch", F.col("auction") % 4), str(tmp_path / "bids")
    )
    streaming.write_flush_epoch(
        spark, str(tmp_path / "bids"), "b_date_time", 3600, ["auction", "bidder"]
    )

    hot = run_q5 = streaming.run_nexmark_q5_stream(
        spark, str(tmp_path / "bids"), checkpoint=str(tmp_path / "ck5")
    ).collect()
    assert hot and all(r["auction"] >= 0 for r in hot)

    sess = streaming.run_nexmark_q11_append_stream(
        spark,
        str(tmp_path / "bids"),
        checkpoint=str(tmp_path / "ck11"),
        gap_s=10,
        delay="600 seconds",
        flush_advance_s=3_600,
    ).collect()
    assert sess and all(r["bidder"] >= 0 for r in sess)

    winners = streaming.run_nexmark_q7_stream(
        spark, str(tmp_path / "bids"), checkpoint=str(tmp_path / "ck7")
    ).collect()
    assert all(r["auction"] >= 0 and r["bidder"] >= 0 for r in winners)


def test_q5_q7_runners_never_collect_and_state_evicts(spark, tmp_path):
    """The q5/q7 bench lanes are production-shaped (round-6 verdict
    'What's wrong' #1): (a) the runner bodies contain no driver-side
    collect — results go to a parquet file sink and come back as a lazy
    DataFrame; (b) the append-mode state store EVICTS finalized windows
    (final rows < peak rows in the engine's own stateOperators metrics),
    unlike the old complete-mode forms whose state only ever grew."""
    import inspect

    for fn in (
        streaming.run_nexmark_q3_stream,
        streaming.run_nexmark_q4_stream,
        streaming.run_nexmark_q5_stream,
        streaming.run_nexmark_q7_stream,
        streaming.run_nexmark_q8_stream,
        streaming.run_nexmark_q8_outer_stream,
        streaming.run_nexmark_q9_stream,
        streaming.run_nexmark_q11_append_stream,
        streaming.run_nexmark_q12_proc_stream,
        streaming.run_nexmark_q13_stream,
        streaming.run_interval_overlap_stream,
    ):
        assert ".collect()" not in inspect.getsource(fn), fn.__name__

    bids = sources.nexmark_bids(spark, 200, 12).withColumn(
        "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
    )
    data_dir = str(tmp_path / "bids")
    streaming.write_epoch_files(bids, data_dir)

    m5: dict = {}
    got = streaming.run_nexmark_q5_stream(
        spark, data_dir, checkpoint=str(tmp_path / "ck5"), metrics=m5
    )
    assert got.count() > 0  # lazy DataFrame, materialized only here
    ops = m5["state_operators"]
    assert ops, "no stateOperators recorded"
    for name, st in ops.items():
        assert st["peak_rows"] > 0, name
        assert st["final_rows"] < st["peak_rows"], (name, st)

    m7: dict = {}
    streaming.run_nexmark_q7_stream(
        spark, data_dir, checkpoint=str(tmp_path / "ck7"), metrics=m7
    ).count()
    for name, st in m7["state_operators"].items():
        assert st["final_rows"] < st["peak_rows"], (name, st)


def test_stateful_count_window_stream_equals_batch(spark, tmp_path):
    """Streaming count window (Schedule::Rows live form): the append-mode
    emissions over the replay must equal the batch win_rows_tumble
    computation restricted to COMPLETED windows (partials stay in state
    — they are not yet results), window ids and bounds included."""
    batch_df, stream = _replay_setup(spark, tmp_path)
    n = 5
    result = streaming.stateful_count_window(
        stream, "bidder", "b_date_time", n, order_cols=["auction", "price"]
    )
    rows = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-cntwin"), mode="append"
    )
    got = {(r["key"], r["win_id"], r["cnt"], r["open_s"], r["close_s"]) for r in rows}
    assert len(got) == len(rows)  # append mode: each window exactly once

    expected_rows = batch_df.selectExpr(
        "bidder",
        "unix_timestamp(b_date_time) AS t",
        "auction",
        "price",
    ).selectExpr(
        "bidder",
        "t",
        f"CAST((ROW_NUMBER() OVER (PARTITION BY bidder "
        f"ORDER BY t, auction, price) - 1) DIV {n} AS BIGINT) AS win_id",
    ).groupBy("bidder", "win_id").agg(
        F.count("*").alias("cnt"),
        F.min("t").alias("open_s"),
        F.max("t").alias("close_s"),
    ).where(F.col("cnt") == n).collect()
    expected = {
        (r["bidder"], r["win_id"], r["cnt"], r["open_s"], r["close_s"])
        for r in expected_rows
    }
    assert got == expected and got


def test_stateful_count_window_drops_null_event_times(spark, tmp_path):
    """A NULL/unparseable event time must be DROPPED, not kill the query:
    pre-fix, one NaN reaching the pandas fold raised on astype(int64)
    inside applyInPandasWithState and failed the whole stream (review
    r10). Planted: 7 rows for one key, 2 with NULL ts, N=5 — exactly one
    window fires, built from the 5 timestamped rows."""
    rows = [
        (i, None if i in (2, 5) else f"2024-01-01 00:00:{i:02d}", 7, 10 * i)
        for i in range(7)
    ]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, b_date_time STRING, bidder BIGINT, price BIGINT"
    ).withColumn("epoch", F.col("event_id"))
    data_dir = str(tmp_path / "null-ts")
    streaming.write_epoch_files(df, data_dir)
    stream = streaming.replay_stream(spark, data_dir, files_per_trigger=7).drop("epoch")
    result = streaming.stateful_count_window(
        stream, "bidder", "b_date_time", 5, order_cols=["event_id"]
    )
    out = streaming.run_available_now(
        result, checkpoint=str(tmp_path / "ckpt-nullts"), mode="append"
    )
    assert len(out) == 1
    r = out[0]
    assert (r["key"], r["win_id"], r["cnt"]) == (7, 0, 5)
    # bounds come from the 5 NON-NULL rows: seconds 0,1,3,4,6
    assert r["close_s"] - r["open_s"] == 6


def test_rocksdb_state_store_count_window(spark, tmp_path):
    """The count-window operator's keyed state runs green on the RocksDB
    provider — same cluster-config claim the session/dedup/q4 state ops
    already carry, extended to the r10 operator."""
    from squirtle_spark.session import (
        _STATE_STORE_KEY,
        STATE_STORE_PROVIDERS,
        configure_state_store,
    )

    try:
        prev = spark.conf.get(_STATE_STORE_KEY)
    except Exception:
        prev = None
    assert configure_state_store(spark, "rocksdb") == STATE_STORE_PROVIDERS["rocksdb"]
    try:
        batch_df, stream = _replay_setup(spark, tmp_path)
        n = 5
        result = streaming.stateful_count_window(
            stream, "bidder", "b_date_time", n, order_cols=["auction", "price"]
        )
        rows = streaming.run_available_now(
            result, checkpoint=str(tmp_path / "ckpt-cnt-rocks"), mode="append"
        )
        expected_rows = batch_df.selectExpr(
            "bidder", "unix_timestamp(b_date_time) AS t", "auction", "price"
        ).selectExpr(
            "bidder",
            f"CAST((ROW_NUMBER() OVER (PARTITION BY bidder "
            f"ORDER BY t, auction, price) - 1) DIV {n} AS BIGINT) AS win_id",
        ).groupBy("bidder", "win_id").count().where(F.col("count") == n).count()
        assert len(rows) == expected_rows > 0
        assert {r["cnt"] for r in rows} == {n}
    finally:
        if prev is None:
            spark.conf.unset(_STATE_STORE_KEY)
        else:
            spark.conf.set(_STATE_STORE_KEY, prev)


def test_legacy_proc_window_count_invariant(spark, tmp_path):
    """q12 on the LEGACY stateful API (applyInPandasWithState + per-key
    flush sweep) — the runner that closes the r13 degenerate-lane skips
    because it needs no protobuf. Window placement is wall-clock; the
    pinned contract is the q12 partition invariant (per-key emitted
    window counts sum exactly to per-key input counts) across an
    empty-epoch replay, and every emitted window is non-empty."""
    import os

    from pyspark.sql import functions as F

    from squirtle_spark import sources, streaming
    from tools.stream_degenerate import _write_empty_epoch_file

    bids = sources.nexmark_bids(spark, 200, 8).where(
        F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 4 != 1
    )
    d = str(tmp_path / "bids")
    streaming.write_epoch_files(
        bids.withColumn("is_flush", F.lit(False)).withColumn(
            "epoch",
            F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000,
        ),
        d,
    )
    _write_empty_epoch_file(d)
    streaming.write_keyed_flush_epoch(spark, d, "bidder")

    res = streaming.run_nexmark_q12_proc_stream(
        spark, d, checkpoint=str(tmp_path / "ck"), window_s=1, files_per_trigger=2
    )
    rows = res.collect()
    assert rows and all(r["n"] >= 1 for r in rows)
    got = sorted(
        (int(r["key"]), int(r["total"]))
        for r in res.groupBy("key").agg(F.sum("n").alias("total")).collect()
    )
    exp = sorted(
        (int(r["bidder"]), int(r["count"]))
        for r in bids.groupBy("bidder").count().collect()
    )
    assert got == exp


def test_state_pressure_advisor_warns_before_the_wall(spark, tmp_path, caplog):
    """Driving state past the advisor's threshold logs the one-time
    provider-switch warning (VERDICT r14 #7): SCALING.md's measured rule
    — HDFSBacked dies past ~half-heap of state; RocksDB held 6.7x heap —
    must surface at runtime, not only in a doc. Threshold forced to 0
    here so fixture-scale state trips it; the warning must name the
    $SPARK_GRAFT_STATE_STORE switch and fire exactly once per session."""
    import logging

    app_id = spark.sparkContext.applicationId
    # the conftest session installed the default-threshold advisor;
    # swap in a trip-on-anything one for this test, then restore
    prev = streaming._STATE_PRESSURE_INSTALLED.pop(app_id, None)
    if prev is not None:
        spark.streams.removeListener(prev)
    streaming._STATE_PRESSURE_WARNED.discard(app_id)
    streaming.install_state_pressure_advisor(spark, warn_fraction=0.0)
    try:
        batch_df, stream = _replay_setup(spark, tmp_path)
        result = streaming.tumbling_agg(
            stream, "b_date_time", "auction", size="2 seconds"
        )
        with caplog.at_level(logging.WARNING, logger="squirtle_spark.streaming"):
            streaming.run_available_now(
                result,
                checkpoint=str(tmp_path / "ckpt-pressure"),
                mode="complete",
            )
            # listener delivery is async; poll briefly for the flag
            import time as _t

            for _ in range(100):
                if app_id in streaming._STATE_PRESSURE_WARNED:
                    break
                _t.sleep(0.1)
        assert app_id in streaming._STATE_PRESSURE_WARNED
        warns = [
            r
            for r in caplog.records
            if "SPARK_GRAFT_STATE_STORE" in r.getMessage()
        ]
        assert len(warns) == 1  # one-time, not per-batch
        assert "rocksdb" in warns[0].getMessage().lower()
    finally:
        cur = streaming._STATE_PRESSURE_INSTALLED.pop(app_id, None)
        if cur is not None:
            spark.streams.removeListener(cur)
        streaming._STATE_PRESSURE_WARNED.discard(app_id)
        if prev is not None:
            spark.streams.addListener(prev)
            streaming._STATE_PRESSURE_INSTALLED[app_id] = prev


def test_state_pressure_advisor_silent_on_rocksdb(spark):
    """A RocksDB session must never warn: the probe measured it holding
    6.7x heap of logical state — the advisor exists to steer AWAY from
    the in-heap provider, not to nag the one that scales."""
    from squirtle_spark import session as sess

    app_id = spark.sparkContext.applicationId
    prev_cls = None
    try:
        prev_cls = spark.conf.get(sess._STATE_STORE_KEY, None)
    except Exception:
        pass
    prev = streaming._STATE_PRESSURE_INSTALLED.pop(app_id, None)
    if prev is not None:
        spark.streams.removeListener(prev)
    streaming._STATE_PRESSURE_WARNED.discard(app_id)
    try:
        sess.configure_state_store(spark, "rocksdb")
        streaming.install_state_pressure_advisor(spark, warn_fraction=0.0)
        lst = streaming._STATE_PRESSURE_INSTALLED[app_id]

        class _SO:
            memoryUsedBytes = 10**12

        class _Prog:
            stateOperators = [_SO()]

        class _Event:
            progress = _Prog()

        lst.onQueryProgress(_Event())
        assert app_id not in streaming._STATE_PRESSURE_WARNED
    finally:
        cur = streaming._STATE_PRESSURE_INSTALLED.pop(app_id, None)
        if cur is not None:
            spark.streams.removeListener(cur)
        if prev_cls:
            spark.conf.set(sess._STATE_STORE_KEY, prev_cls)
        else:
            spark.conf.unset(sess._STATE_STORE_KEY)
        if prev is not None:
            spark.streams.addListener(prev)
            streaming._STATE_PRESSURE_INSTALLED[app_id] = prev
