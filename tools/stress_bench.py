#!/usr/bin/env python
"""10x-rate streaming stress — SCALING.md's headroom claim as data.

Usage: python tools/stress_bench.py [--round N]

Runs the q5 full pipeline, the q11 APPEND-mode session lane, the q8
stream-stream windowed join, the q4 chained three-stateful pipeline, the
CDC snapshot and merge-on-read applies and the curation ingest lane over
10x the bench event rate, plus a state-bytes retention probe, a RocksDB
pass over the six streaming lanes and the IVF-PQ vs PQ crossover at 10x
and 30x corpora. Each lane runs warm + 3 canary-sandwiched samples
(``bench._lane_sample``); lane walls are drift-classed against the newest
earlier ``STRESS_DETAIL_r*.json`` by bench's one drift classifier.

Writes ``STRESS_DETAIL_r{N}.json`` next to bench.py and prints one
compact JSON line (bulky sections shed first if it would pass ~2,000
chars).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from bench import _fresh, _lane_sample, _timed  # noqa: E402


def _stress_prev() -> tuple[int, dict]:
    """(round, record) of the newest STRESS_DETAIL of an earlier round, or
    (0, {}). The current round's own record is skipped so a rerun never
    becomes its own baseline."""
    cur = bench._round_number()
    for rnd, f in reversed(bench._rounds_glob("STRESS_DETAIL_r*.json")):
        if rnd >= cur:
            continue
        try:
            d = json.load(open(f))
        except (json.JSONDecodeError, OSError):
            continue
        if isinstance(d, dict) and d.get("metric") == "stress_events_per_sec":
            return rnd, d
    return 0, {}


def _stress_bench(
    spark, sf_dir: str, events_per_sec: int = 10_000, seconds: int = 60
) -> dict:
    """The stress record. Expected shape: throughput RISES vs the 1x
    numbers because per-event cost amortizes fixed micro-batch overhead —
    state-store-bound pipelines get cheaper per event with volume until
    state exceeds memory (the RocksDB provider is the cluster answer)."""
    import copy
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from squirtle_spark import catalog, sources, streaming
    from squirtle_spark import session as _session
    from squirtle_spark.operators import curation, similarity
    from squirtle_spark.registry import load_all

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    tmp = tempfile.mkdtemp(prefix="bench-stress-")
    canary = bench.Canary(spark)
    lane_stats: dict[str, dict] = {}

    def lane(name: str, fn, n: int = 3) -> float:
        """Warm run, then ``n`` canary-sandwiched samples → min wall."""
        return _lane_sample(name, fn, canary, lane_stats, n=n, warm=True)

    try:
        bids = sources.nexmark_bids(spark, events_per_sec, seconds)
        n = bids.count()
        staged = bids.withColumn(
            "epoch", F.unix_timestamp(F.col("b_date_time").cast("timestamp")) % 100000
        )
        streaming.write_epoch_files(staged, f"{tmp}/bids")

        state_metrics: dict[str, dict] = {}

        def run_q5() -> None:
            m: dict = {}
            streaming.run_nexmark_q5_stream(
                spark,
                f"{tmp}/bids",
                checkpoint=_fresh(tmp, "q5"),
                files_per_trigger=15,
                metrics=m,
            ).write.format("noop").mode("overwrite").save()
            state_metrics["q5"] = m.get("state_operators", {})

        wall_q5 = lane("q5_full", run_q5)

        # q11 APPEND mode: sessions emit once on watermark close and the
        # session store EVICTS, so final state << peak in its metrics.
        def run_q11() -> None:
            m: dict = {}
            streaming.run_nexmark_q11_append_stream(
                spark,
                f"{tmp}/bids",
                checkpoint=_fresh(tmp, "q11"),
                gap_s=10,
                files_per_trigger=15,
                metrics=m,
            ).write.format("noop").mode("overwrite").save()
            state_metrics["q11"] = m.get("state_operators", {})

        wall_q11 = lane("q11_session", run_q11)

        # q8: two-sided stream-stream join state, production-shaped (flush
        # sentinels + finite watermark), so its state metrics record
        # EVICTION (final rows ≈ the two sentinels, not the peak) —
        # test_nexmark_q8_stream_evicts_state_with_flush pins the same.
        persons = sources.nexmark_persons(spark, 10 * events_per_sec, seconds)
        auctions = sources.nexmark_auctions(spark, 10 * events_per_sec, seconds)
        n_q8 = persons.count() + auctions.count()
        for df, ts, sub in (
            (persons, "p_date_time", "p"),
            (auctions, "a_date_time", "a"),
        ):
            streaming.write_epoch_files(
                df.withColumn(
                    "epoch", F.unix_timestamp(F.col(ts).cast("timestamp")) % 100000
                ),
                f"{tmp}/{sub}",
            )
        for sub, ts, keys in (
            ("p", "p_date_time", ["p_id"]),
            ("a", "a_date_time", ["a_id", "seller"]),
        ):
            streaming.write_flush_epoch(spark, f"{tmp}/{sub}", ts, 3_600, keys)

        def run_q8() -> None:
            m: dict = {}
            streaming.run_nexmark_q8_stream(
                spark,
                f"{tmp}/p",
                f"{tmp}/a",
                checkpoint=_fresh(tmp, "q8"),
                size_s=10,
                watermark="600 seconds",
                files_per_trigger=30,
                metrics=m,
            )
            state_metrics["q8"] = m.get("state_operators", {})

        wall_q8 = lane("q8_join", run_q8)

        # q4 chained three-stateful pipeline. The bids dir was already
        # flushed by run_q5 (its sentinel is filtered or residual-rejected
        # by every later consumer); q4 last keeps the auction-dir flush
        # its own.
        q4_aucs = sources.nexmark_auctions(spark, events_per_sec, seconds)
        n_q4 = n + q4_aucs.count()
        streaming.write_epoch_files(
            q4_aucs.withColumn(
                "epoch",
                F.unix_timestamp(F.col("a_date_time").cast("timestamp")) % 100000,
            ),
            f"{tmp}/a4",
        )

        def run_q4() -> None:
            m: dict = {}
            streaming.run_nexmark_q4_stream(
                spark,
                f"{tmp}/bids",
                f"{tmp}/a4",
                checkpoint=_fresh(tmp, "q4"),
                files_per_trigger=30,
                metrics=m,
            )
            state_metrics["q4"] = m.get("state_operators", {})

        wall_q4 = lane("q4_chained", run_q4)

        # CDC apply: a changelog of n changes (100k keys, ~10% deletes)
        # merged into the versioned snapshot table — ~22 atomic commits of
        # a tombstoned max-seq merge, the warehouse sink's sustained rate.
        n_keys = 100_000
        chunk = max(1, n // 22)
        changes = spark.range(n).selectExpr(
            f"id % {n_keys} AS key",
            "id AS seq",
            "CASE WHEN id % 10 = 7 THEN 'D' ELSE 'U' END AS op",
            "CAST(id AS DOUBLE) AS val",
            f"CAST(id DIV {chunk} AS INT) AS epoch",
        )
        streaming.write_epoch_files(changes, f"{tmp}/cdc")

        def run_cdc() -> None:
            q = streaming.cdc_sink(
                streaming.replay_stream(spark, f"{tmp}/cdc", 1).drop("epoch"),
                _fresh(tmp, "cdc-table"),
                keys=["key"],
                seq_col="seq",
                op_col="op",
                checkpoint=_fresh(tmp, "cdc-ckpt"),
            )
            assert q.awaitTermination(600)

        wall_cdc = lane("cdc_apply", run_cdc)

        # Same changelog through merge-on-read: raw delta-log appends +
        # periodic compaction + one final fold — the high-rate shape for
        # uniform-key CDC, where snapshot-per-batch rewrites unchanged rows.
        def run_mor() -> None:
            table = _fresh(tmp, "mor-table")
            q = streaming.cdc_mor_sink(
                streaming.replay_stream(spark, f"{tmp}/cdc", 1).drop("epoch"),
                table,
                keys=["key"],
                seq_col="seq",
                op_col="op",
                checkpoint=_fresh(tmp, "mor-ckpt"),
                compact_every=12,
            )
            assert q.awaitTermination(600)
            streaming.compact_cdc_mor(spark, table, ["key"], "seq")

        wall_mor = lane("cdc_mor", run_mor)

        # Curation ingest: sf0.1 documents replicated 10x (1 in 5 replicas
        # keeps the original text, so exact-dup detection does real work)
        # streamed through the FULL stream_curation lane — length gate,
        # within-batch dedup, anti-join vs the GROWING accepted store, and
        # PII-masked storage.
        base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        docs10 = (
            base.withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(9))))
            .select(
                (F.col("doc_id") * 10 + F.col("r")).alias("doc_id"),
                F.when(F.col("r") % 5 == 0, F.col("text"))
                .otherwise(F.concat_ws(" ", "text", F.concat(F.lit("rep"), F.col("r"))))
                .alias("text"),
            )
            .withColumn("epoch", F.col("doc_id") % 10)
        )
        n_docs = docs10.count()
        streaming.write_epoch_files(docs10, f"{tmp}/cur-docs")

        def run_cur() -> None:
            curation.stream_curation(
                spark,
                f"{tmp}/cur-docs",
                _fresh(tmp, "cur-accept"),
                checkpoint=_fresh(tmp, "cur-ckpt"),
                files_per_trigger=1,
                redact_pii=True,
            )

        wall_cur = lane("curation", run_cur)

        # State-bytes retention probe: fully-evicted stores can still
        # report most of peak memoryUsedBytes because the HDFS-backed
        # provider size-estimates every retained in-memory version map
        # (spark.sql.streaming.maxBatchesToRetainInMemory, default 2).
        # Re-run q8 with retention=1 and once under RocksDB; findings and
        # the per-provider healthy bound are in SCALING.md ("state-bytes
        # retention").
        state_retention: dict[str, dict] = {}
        state_retention["hdfs_default"] = dict(
            state_metrics["q8"].get("symmetricHashJoin", {})
        )

        def _q8_once(tag: str) -> dict:
            m: dict = {}
            streaming.run_nexmark_q8_stream(
                spark,
                f"{tmp}/p",
                f"{tmp}/a",
                checkpoint=_fresh(tmp, f"q8-{tag}"),
                size_s=10,
                watermark="600 seconds",
                files_per_trigger=30,
                metrics=m,
            )
            return m.get("state_operators", {}).get("symmetricHashJoin", {})

        _RETAIN_KEY = "spark.sql.streaming.maxBatchesToRetainInMemory"
        prev_retain = spark.conf.get(_RETAIN_KEY, None)
        spark.conf.set(_RETAIN_KEY, "1")
        try:
            state_retention["hdfs_retain1"] = _q8_once("retain1")
        finally:
            if prev_retain is None:
                spark.conf.unset(_RETAIN_KEY)
            else:
                spark.conf.set(_RETAIN_KEY, prev_retain)

        # RocksDB pass: one measured run per streaming lane (JIT-warm from
        # the HDFS pass; RocksDB instance init is part of the provider's
        # cost, so it stays in the number), fresh checkpoints (provider
        # choice is baked into checkpoint state).
        hdfs_walls = {
            "q5_full": wall_q5,
            "q11_session": wall_q11,
            "q8_join": wall_q8,
            "q4_chained": wall_q4,
            "cdc_apply": wall_cdc,
            "cdc_mor": wall_mor,
        }
        hdfs_state = copy.deepcopy(state_metrics)
        _SS_KEY = "spark.sql.streaming.stateStore.providerClass"
        prev_ss = spark.conf.get(_SS_KEY, None)
        _session.configure_state_store(spark, "rocksdb")
        rocksdb_lanes: dict[str, dict] = {}
        try:
            for lname, fn in (
                ("q5_full", run_q5),
                ("q11_session", run_q11),
                ("q8_join", run_q8),
                ("q4_chained", run_q4),
                ("cdc_apply", run_cdc),
                ("cdc_mor", run_mor),
            ):
                w = _timed(fn)
                base = hdfs_walls[lname]
                rocksdb_lanes[lname] = {
                    "wall_sec": round(w, 3),
                    "hdfs_min_sec": round(base, 3),
                    "delta_pct": round(100 * (w - base) / base, 1),
                }
                print(
                    f"# rocksdb {lname}: {w:.3f}s (hdfs min {base:.3f}s)",
                    file=sys.stderr,
                )
        finally:
            if prev_ss is None:
                spark.conf.unset(_SS_KEY)
            else:
                spark.conf.set(_SS_KEY, prev_ss)
        # the reruns overwrote state_metrics with the RocksDB readings —
        # keep those as the provider comparison, restore the HDFS readings
        # as the lanes' canonical state_operators
        rocksdb_state = {
            k: state_metrics[k] for k in ("q5", "q11", "q8", "q4") if k in state_metrics
        }
        state_retention["rocksdb"] = dict(
            rocksdb_state.get("q8", {}).get("symmetricHashJoin", {})
        )
        # HEALTHY = the retain-1 run collapses the metric, proving the
        # default's plateau is version-map retention (a bounded 2x of
        # steady state), not growth; anything else is flagged.
        for k, v in state_retention.items():
            if v.get("peak_bytes"):
                v["final_over_peak"] = round(v["final_bytes"] / v["peak_bytes"], 3)
        _dflt = state_retention["hdfs_default"].get("final_bytes", 0)
        _ret1 = state_retention["hdfs_retain1"].get("final_bytes", 0)
        state_retention["verdict"] = (
            "version-map-retention (bounded plateau, expected)"
            if _ret1 and _dflt and _ret1 < 0.5 * _dflt
            else "unexplained: retain1 did not collapse final_bytes"
        )
        state_metrics = hdfs_state

        # IVF-PQ vs plain-PQ crossover: the corpus is replicated while the
        # query set stays N_QUERIES, so the ADC scan grows with the corpus
        # for PQ but only ~N_PROBE/N_CELLS of that for IVF-PQ. Recall vs
        # plain PQ's top-k isolates what pruning loses.
        qs = load_all()

        def ann_dir(mult: int) -> tuple[str, int]:
            """{tmp}/sf{mult}x: embeddings replicated mult x with a
            deterministic component perturbation (|delta| <= 0.096
            regardless of r, so the IVF packed-argmin bound holds)."""
            d = f"{tmp}/sf{mult}x"
            os.makedirs(d, exist_ok=True)
            for t in catalog.TABLES:
                if t != "embeddings":
                    os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
            base_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            n_emb = base_emb.count()
            (
                base_emb.withColumn(
                    "r", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
                )
                .selectExpr(
                    f"r * {n_emb} + vec_id AS vec_id",
                    "transform(embedding, (x, i) -> CAST(x + "
                    "((vec_id * 131 + i * 17 + r * 7) % 97 - 48) * 0.002 AS FLOAT)) "
                    "AS embedding",
                    "label",
                )
                .write.mode("overwrite")
                .parquet(f"{d}/embeddings.parquet")
            )
            return d, n_emb * mult

        def ann_point(
            d: str, n_cells: int, n_probe: int, label: str
        ) -> tuple[float, float, float]:
            """(pq_wall, ivfpq_scaled_wall, recall_vs_pq) at one corpus;
            lane() warm runs pay the (session-cached) index builds."""

            def run_pq() -> None:
                qs["ann_pq_topk"].spark_fn(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()

            def run_ivfpq() -> None:
                similarity.ann_ivfpq_topk_at(
                    spark, d, n_cells=n_cells, n_probe=n_probe
                ).write.format("noop").mode("overwrite").save()

            wall_pq = lane(f"ann_pq_{label}", run_pq, n=3)
            wall_ivf = lane(f"ann_ivfpq_scaled_{label}", run_ivfpq, n=3)
            pq_top = qs["ann_pq_topk"].spark_fn(spark, d).select("q_id", "c_id")
            ivf_top = similarity.ann_ivfpq_topk_at(
                spark, d, n_cells=n_cells, n_probe=n_probe
            ).select("q_id", "c_id")
            overlap = pq_top.join(ivf_top, ["q_id", "c_id"]).count()
            return wall_pq, wall_ivf, overlap / max(pq_top.count(), 1)

        # 10x point: cells ~ sqrt(20k) -> 128, probe 32 -> ~25% scan
        # fraction (the registered entry's 16/8 defaults scan 50%, sized
        # for the 2k-row oracle fixture).
        dir10, n_emb10 = ann_dir(10)

        def run_ivfpq10_default() -> None:
            qs["ann_ivfpq_topk"].spark_fn(spark, dir10).write.format("noop").mode(
                "overwrite"
            ).save()

        wall_ivfpq10 = lane("ann_ivfpq_10x", run_ivfpq10_default, n=3)
        wall_pq10, wall_ivfpq10s, recall_vs_pq = ann_point(dir10, 128, 32, "10x")

        # 30x point: the full ADC scan is 3x the 10x one while the probed
        # fraction stays ~25% (256 cells / 64 probed).
        dir30, n_emb30 = ann_dir(30)
        wall_pq30, wall_ivfpq30s, recall30 = ann_point(dir30, 256, 64, "30x")

        auto10 = similarity.auto_ivf_geometry(n_emb10 - similarity.N_QUERIES)
        auto30 = similarity.auto_ivf_geometry(n_emb30 - similarity.N_QUERIES)
        record = {
            "metric": "stress_events_per_sec",
            "value": round(n / wall_q5, 1),
            "unit": "events/sec",
            "events": n,
            "rate_multiplier": events_per_sec // 1000,
            "q5_full_wall_sec": round(wall_q5, 3),
            "q5_full_events_per_sec": round(n / wall_q5, 1),
            "q11_session_wall_sec": round(wall_q11, 3),
            "q11_session_events_per_sec": round(n / wall_q11, 1),
            "q8_events": n_q8,
            "q8_join_wall_sec": round(wall_q8, 3),
            "q8_join_events_per_sec": round(n_q8 / wall_q8, 1),
            "q4_events": n_q4,
            "q4_chained_wall_sec": round(wall_q4, 3),
            "q4_chained_events_per_sec": round(n_q4 / wall_q4, 1),
            "cdc_changes": n,
            "cdc_apply_wall_sec": round(wall_cdc, 3),
            "cdc_apply_changes_per_sec": round(n / wall_cdc, 1),
            "cdc_mor_wall_sec": round(wall_mor, 3),
            "cdc_mor_changes_per_sec": round(n / wall_mor, 1),
            "curation_docs": n_docs,
            "curation_wall_sec": round(wall_cur, 3),
            "curation_docs_per_sec": round(n_docs / wall_cur, 1),
            "ann_corpus_10x_rows": n_emb10,
            "ann_pq_10x_wall_sec": round(wall_pq10, 3),
            "ann_ivfpq_10x_wall_sec": round(wall_ivfpq10, 3),
            "ann_ivfpq_scaled_10x_wall_sec": round(wall_ivfpq10s, 3),
            "ann_ivfpq_scaled_cells_probe": [128, 32],
            "ann_ivfpq_scaled_recall_vs_pq": round(recall_vs_pq, 4),
            "ann_corpus_30x_rows": n_emb30,
            "ann_pq_30x_wall_sec": round(wall_pq30, 3),
            "ann_ivfpq_scaled_30x_wall_sec": round(wall_ivfpq30s, 3),
            "ann_ivfpq_30x_cells_probe": [256, 64],
            "ann_ivfpq_30x_recall_vs_pq": round(recall30, 4),
            # ann_ivfpq_auto resolves its geometry from the corpus count;
            # when it lands on the hand-tuned geometry at both corpora,
            # the scaled walls/recalls above ARE the auto entry's numbers
            "ann_ivfpq_auto_geometry_10x": list(auto10),
            "ann_ivfpq_auto_geometry_30x": list(auto30),
            "ann_ivfpq_auto_matches_hand_tuned": (
                auto10 == (128, 32) and auto30 == (256, 64)
            ),
            "lane_samples": lane_stats,
            "canary": canary.stats(0),
            "state_operators": state_metrics,
            "state_retention": state_retention,
            "rocksdb_lanes": rocksdb_lanes,
            "rocksdb_state_operators": rocksdb_state,
        }
        prev_round, prev = _stress_prev()
        record["drift"] = bench._lane_drift(prev_round, prev, lane_stats)
        return record
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir, _ = bench._bench_sf()
    load_start, settle_stamp = bench._settle_gate(bench._host_load())

    from squirtle_spark import catalog
    from squirtle_spark.session import get_spark

    spark = get_spark(app_name="squirtle-bench")
    catalog.register_all(spark, sf_dir)
    for t in catalog.TABLES:
        spark.table(t).count()

    stress = _stress_bench(spark, sf_dir)
    stress["host_load"] = {
        "start": load_start,
        "end": bench._host_load(),
        "settle_gate": settle_stamp,
    }
    stress["host_settled"] = bench._settled_verdict(load_start)
    detail_name = f"STRESS_DETAIL_r{bench._round_number():02d}.json"
    here = os.path.dirname(os.path.abspath(bench.__file__))
    with open(os.path.join(here, detail_name), "w") as f:
        json.dump(stress, f, indent=1)
    # the line keeps a drift summary so a regression is visible even from
    # a bounded capture; lane samples, canary and rows live in the detail
    d = stress["drift"]
    line = {
        k: v
        for k, v in stress.items()
        if k not in ("lane_samples", "canary", "drift", "rocksdb_state_operators")
    }
    line["drift"] = {
        "prev_round": d["prev_round"],
        "lanes_checked": d["lanes_checked"],
        **bench._drift_summary(d["beyond_tolerance"]),
    }
    line["detail"] = detail_name
    shed = ("state_operators", "rocksdb_lanes", "state_retention", "drift")
    print(bench._compact_line(line, shed_order=shed))


if __name__ == "__main__":
    main()
