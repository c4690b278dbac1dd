"""The two closed-loop workloads.

Each workload is one client: it builds its inputs once (``setup``), then
the runner in ``run.py`` calls ``run_op`` for every operation of a pass,
one pass only after the previous one ended. ``check`` compares an
operation's output with a result computed apart from the program
(DuckDB) and with properties the method must have.

Why these two: ``olap_curation`` runs many short, distinct batch plans
(NEXMark/YSB/TPC-H SQL, then vector kernels and an index-backed search),
so the per-query floor, shuffle joins, Python-worker kernels and session
index builds carry its time; ``stream_nexmark`` is the only one with
micro-batch overhead, state-store commits, watermark eviction and
per-window firing, and it starts no Python worker.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import pandas as pd

from checks import check_frame, check_total, stream_oracles

#: Registry entries with DuckDB oracles: a cut of NEXMark q0-q13, YSB and
#: TPC-H q1-q22 that keeps the plan shapes (joins, hopping and session
#: windows, winning-bid interval joins, multi-way shuffle joins, EXISTS /
#: NOT EXISTS), then curation operators: the brute-force cosine and k-means
#: kernels (Python workers) and SQ8 search over a session-built code index.
BATCH_QUERIES = [
    "nexmark_q3",
    "nexmark_q4",
    "nexmark_q5",
    "nexmark_q8",
    "nexmark_q11",
    "ysb_campaign_views",
    "tpch_q1",
    "tpch_q3",
    "tpch_q9",
    "tpch_q21",
    "ann_cosine_topk",
    "kmeans_assign",
    "ann_sq8_topk",
]


class RegistryWorkload:
    """Registry queries over seeded fixture tables (``tools/randgen.py``):
    one operation = build the query's DataFrame, then collect it."""

    #: Unmeasured passes between the cold pass and the measured ones. The
    #: JIT is still compiling through the third warm pass (CPU per pass
    #: 17, 15, 12, then ~10 s), so measuring earlier samples that curve
    #: at a point that moves with the host's speed.
    warmup_passes = 3

    def __init__(self, queries: list[str]):
        self.ops = list(queries)
        self._expected: dict[str, pd.DataFrame] = {}

    def setup(self, spark, work: str, seed: int, tracer, layers: dict) -> None:
        from squirtle_spark import catalog, registry
        from tools import randgen

        self.spark = spark
        self.data_dir = os.path.join(work, "data")
        with tracer.span("sources.generate"):
            t0 = time.perf_counter()
            randgen.generate(self.data_dir, seed)
            layers["sources.generate_s"] = time.perf_counter() - t0
        with tracer.span("catalog.register"):
            t0 = time.perf_counter()
            catalog.register_all(self.spark, self.data_dir)
            layers["catalog.register_s"] = time.perf_counter() - t0
        self.queries = registry.load_all()

    def run_op(self, op: str, pass_dir: str, tracer, layers: dict):
        with tracer.span("registry.build"):
            t0 = time.perf_counter()
            df = self.queries[op].spark_fn(self.spark, self.data_dir)
            layers["registry.build_s"] = layers.get("registry.build_s", 0.0) + (
                time.perf_counter() - t0
            )
        with tracer.span("exec.collect"):
            return df.toPandas()

    def check(self, op: str, out: pd.DataFrame) -> str | None:
        from squirtle_spark import oracle

        if op not in self._expected:
            self._expected[op] = oracle.run_oracle(self.queries[op].oracle, self.data_dir)
        return check_frame(op, out, self._expected[op])


class StreamWorkload:
    """A seeded, bounded NEXMark bid replay drained with ``availableNow``
    through the native ``streaming`` runners (q5 hopping counts and hot
    items, q11 sessions) and the Query API (``api.run_streaming`` firing
    SQL once per 6 s / 3 s hopping window)."""

    #: Generator rate and span: 500 events/s for 30 s of event time
    #: (15,000 events, 13,800 of them bids).
    EVENTS_PER_SEC = 500
    SPAN_S = 30
    #: Event-time seconds per replay file, and files per micro-batch: the
    #: replay's six files drain in one data batch plus the flush batches.
    EPOCH_S = 5
    FILES_PER_TRIGGER = 6
    HOP_SQL = "SELECT COUNT(*) AS n, CAST(SUM(price) AS BIGINT) AS total FROM bid"
    #: Query-API window (size, slide) in seconds: 11 windows over the
    #: replay, so fired windows outnumber micro-batches among the latency
    #: units and the median falls among windows, not between two modes.
    API_WINDOW = (6, 3)

    ops = ["q5", "q11", "api_hopping"]
    #: Unmeasured passes between the cold pass and the measured ones: the
    #: first warm pass is still above the next two; a pass costs ~9 s, so
    #: the run budget allows no more.
    warmup_passes = 1

    def setup(self, spark, work: str, seed: int, tracer, layers: dict) -> None:
        from pyspark.sql import functions as F
        from squirtle_spark import sources, streaming

        self.spark = spark
        self.dirs = {k: os.path.join(work, k) for k in ("bids", "bids_api")}
        rate, span = self.EVENTS_PER_SEC, self.SPAN_S

        with tracer.span("sources.generate"):
            t0 = time.perf_counter()
            bids = sources.nexmark_bids(spark, rate, span, seed)
            epoch = F.floor(F.unix_timestamp(F.col("b_date_time").cast("timestamp")) / self.EPOCH_S)
            streaming.write_epoch_files(bids.withColumn("epoch", epoch.cast("long")), self.dirs["bids"])
            # the Query API reads its own copy: the native runners add a
            # watermark flush sentinel to theirs
            shutil.copytree(self.dirs["bids"], self.dirs["bids_api"])
            layers["sources.generate_s"] = time.perf_counter() - t0
            layers["sources.events"] = float(rate * span)
        self._expected = None

    def run_op(self, op: str, pass_dir: str, tracer, layers: dict):
        from squirtle_spark import api, streaming

        spark, d, fpt = self.spark, self.dirs, self.FILES_PER_TRIGGER
        ckpt = os.path.join(pass_dir, f"ckpt-{op}")
        if op == "q5":
            counts = os.path.join(pass_dir, "q5-counts")
            hot = streaming.run_nexmark_q5_stream(
                spark, d["bids"], checkpoint=ckpt, files_per_trigger=fpt, result_path=counts
            ).toPandas()
            return {"hot": hot, "counts_dir": counts}
        if op == "q11":
            return streaming.run_nexmark_q11_append_stream(
                spark, d["bids"], checkpoint=ckpt, gap_s=10, files_per_trigger=fpt
            ).toPandas()
        query = api.Query(sql=self.HOP_SQL, view="bid", window=api.Window.hopping(*self.API_WINDOW))
        return api.run_streaming(
            spark, query, d["bids_api"], workdir=os.path.join(pass_dir, op), files_per_trigger=fpt
        ).toPandas()

    def check(self, op: str, out) -> str | None:
        con = duckdb.connect()
        try:
            if self._expected is None:
                self._expected = stream_oracles(con, self.dirs, self.HOP_SQL, self.API_WINDOW)
            exp = self._expected
            if op == "q5":
                # every bid lands in size/slide = 2 hopping windows
                total = con.sql(
                    f"SELECT COALESCE(SUM(num), 0) FROM read_parquet('{out['counts_dir']}/*.parquet')"
                    " WHERE auction >= 0"
                ).fetchone()[0]
                return check_frame("q5", out["hot"], exp["q5"]) or check_total(
                    "q5 hopping counts", total, 2 * exp["n_bids"]
                )
        finally:
            con.close()
        size, slide = self.API_WINDOW
        col, want = {
            "q11": ("bid_count", exp["n_bids"]),
            "api_hopping": ("n", size // slide * exp["n_bids"]),
        }[op]
        return check_frame(op, out, exp[op]) or check_total(f"{op} {col}", int(out[col].sum()), want)


WORKLOADS = {
    "olap_curation": lambda: RegistryWorkload(BATCH_QUERIES),
    "stream_nexmark": StreamWorkload,
}
