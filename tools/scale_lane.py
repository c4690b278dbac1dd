#!/usr/bin/env python
"""Opt-in parallel-scaling lane (VERDICT r15 #2): heavy queries at a
multiplied fixture, run at two core counts, so "scale-safe" claims rest
on a measurement where parallelism matters instead of on sf0.1 — where
the 8-core bench beats 32 cores on every query (BENCH_r15_c8: per-query
fixed overhead dominates and 32-way shuffles cost more than they
recover).

Usage (one process per core count — the session master is
``local[$SPARK_GRAFT_CPUS]``, same contract as bench.py):

    SPARK_GRAFT_CPUS=32 python tools/scale_lane.py --out SCALE_c32.json
    SPARK_GRAFT_CPUS=8  python tools/scale_lane.py --out SCALE_c8.json
    python tools/scale_lane.py --combine SCALE_c32.json SCALE_c8.json \
        --out SCALING_LANE_r16.json

Fixture: every fact table of the sf0.1 driver fixtures replicated
``--mult`` times (default 10, ~sf1) with DETERMINISTIC key remaps so
join semantics survive — no RNG, byte-stable across runs:

- orders/lineitem: ``o_orderkey' = o_orderkey*mult + r`` on BOTH sides
  (each customer gains mult× orders — fact growth against fixed dims);
- events: ``event_id' = event_id*mult + r`` (10× stream density);
- documents: ``doc_id' = doc_id*mult + r``; replica 0 keeps the text,
  replicas 1..mult-1 get a per-replica suffix (so exact-dup counts stay
  base-scale while the span/shingle families do mult× real cross-doc
  work — the same shape the stress curation lane uses);
- embeddings: the stress lane's recipe verbatim (``vec_id' = r*n +
  vec_id`` + the |delta| <= 0.096 component perturbation, so the IVF
  packed-argmin bound still holds);
- region/nation/customer/supplier/part: unchanged (dimensions).

Row groups are written small (<= ~64k rows) so Spark's
bytesPerCore-driven split sizing can actually fan a single-file scan
out to the session's core count.

The fixture is rebuilt from /root/testdata by every invocation into a
fresh temp dir and deleted afterwards — nothing persists across runs
and no query output is ever cached (this is a measurement harness,
separate from the driver bench contract; bench.py is unchanged).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: The heavy set VERDICT r15 #2 names, plus rollup_multires (#7: prove
#: the kept +9% local regression wins at scale or revert) and
#: dedup_span_removal (newly benched heavy span transform).
HEAVY = [
    "tpch_q21",
    "tpch_q1",
    "tpch_q5",
    "dedup_spans",
    "dedup_span_removal",
    "gopher_repetition",
    "semdedup",
    "decontaminate_embedding_bucketed",
    "ann_ivfpq_topk",
    "salted_join_agg",
    "dedup_incremental",
    "rollup_multires",
]

BASE_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def build_fixture(base: str, out: str, mult: int) -> dict:
    """Write the mult× fixture under ``out``; returns {table: rows}."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    rows: dict[str, int] = {}

    def write(name: str, tbl: "pa.Table") -> None:
        rg = max(16_384, min(65_536, tbl.num_rows // 128 or 16_384))
        pq.write_table(tbl, f"{out}/{name}.parquet", row_group_size=rg)
        rows[name] = tbl.num_rows

    def replicate(tbl: "pa.Table", key: str, r: int) -> "pa.Table":
        remapped = pc.add(pc.multiply(tbl[key], mult), r)
        return tbl.set_column(tbl.schema.get_field_index(key), key, remapped)

    for name in ("region", "nation", "customer", "supplier", "part"):
        src = pq.read_table(f"{base}/{name}.parquet")
        write(name, src)

    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey"),
                      ("events", "event_id")):
        src = pq.read_table(f"{base}/{name}.parquet")
        write(name, pa.concat_tables(replicate(src, key, r) for r in range(mult)))

    docs = pq.read_table(f"{base}/documents.parquet")
    parts = []
    for r in range(mult):
        t = replicate(docs, "doc_id", r)
        if r:
            suffixed = pc.binary_join_element_wise(
                t["text"], pa.scalar(f"rep{r}"), " "
            )
            t = t.set_column(t.schema.get_field_index("text"), "text", suffixed)
        parts.append(t)
    write("documents", pa.concat_tables(parts))

    emb = pq.read_table(f"{base}/embeddings.parquet")
    n = emb.num_rows
    vec = emb["embedding"].combine_chunks()
    dim = len(vec[0])
    vals = vec.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
    vec_ids = emb["vec_id"].to_numpy()
    labels = emb["label"].to_numpy()
    i_idx = np.tile(np.arange(dim, dtype=np.int64), n)
    vid_rep = np.repeat(vec_ids, dim)
    parts = []
    for r in range(mult):
        # stress-lane perturbation: ((vec_id*131 + i*17 + r*7) % 97 - 48)*0.002
        delta = (((vid_rep * 131 + i_idx * 17 + r * 7) % 97) - 48).astype(
            np.float64
        ) * 0.002
        pv = (vals.astype(np.float64) + delta).astype(np.float32)
        arr = pa.FixedSizeListArray.from_arrays(pa.array(pv), dim).cast(
            pa.list_(pa.field("element", pa.float32()))
        )
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(r * n + vec_ids, type=pa.int64()),
                    "embedding": arr,
                    "label": pa.array(labels, type=pa.int32()),
                }
            )
        )
    write("embeddings", pa.concat_tables(parts))
    return rows


def run_lane(mult: int, queries: list[str], reps: int, out_path: str) -> None:
    from squirtle_spark import catalog
    from squirtle_spark.registry import load_all
    from squirtle_spark.session import DEFAULT_CPUS, get_spark

    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS
    tmp = tempfile.mkdtemp(prefix=f"scale{mult}x-")
    try:
        t0 = time.perf_counter()
        rows = build_fixture(base, tmp, mult)
        build_s = time.perf_counter() - t0

        spark = get_spark(app_name=f"squirtle-scale-{mult}x-c{cpus}")
        catalog.register_all(spark, tmp)
        for t in catalog.TABLES:
            spark.table(t).count()

        qs = load_all()
        timings: dict[str, dict] = {}
        for name in queries:
            q = qs[name]
            spark.sparkContext.setJobDescription(f"scale-lane {name}")
            samples = []
            for _ in range(reps):
                s0 = time.perf_counter()
                q.spark_fn(spark, tmp).write.format("noop").mode(
                    "overwrite"
                ).save()
                samples.append(round(time.perf_counter() - s0, 3))
            spark.sparkContext.setJobDescription(None)
            timings[name] = {
                "reps_sec": samples,
                "first_rep_sec": samples[0],
                "min_sec": min(samples),
            }
            print(f"# {name}: {min(samples):.3f}s {samples}", file=sys.stderr)

        try:
            parts = open("/proc/loadavg").read().split()
            load = {"load_1m": float(parts[0]), "load_5m": float(parts[1])}
        except (OSError, ValueError, IndexError):
            load = None
        record = {
            "metric": "scale_lane",
            "mult": mult,
            "base_sf_dir": base,
            "cpus": cpus,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "fixture_rows": rows,
            "fixture_build_sec": round(build_s, 1),
            "reps": reps,
            "queries": timings,
            "host_load_end": load,
        }
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({
            "metric": "scale_lane", "cpus": cpus, "mult": mult,
            "total_min_sec": round(sum(v["min_sec"] for v in timings.values()), 3),
            "out": out_path,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def combine(paths: list[str], out_path: str) -> None:
    recs = [json.load(open(p)) for p in paths]
    recs.sort(key=lambda r: -r["cpus"])
    hi, lo = recs[0], recs[-1]
    per_query = {}
    for name, row in hi["queries"].items():
        lo_row = lo["queries"].get(name)
        if not lo_row:
            continue
        per_query[name] = {
            f"c{hi['cpus']}_min_sec": row["min_sec"],
            f"c{lo['cpus']}_min_sec": lo_row["min_sec"],
            # >1 means the high-core run is FASTER (true parallel win)
            "speedup_hi_over_lo": round(lo_row["min_sec"] / row["min_sec"], 2)
            if row["min_sec"]
            else None,
        }
        per_query[name][f"c{hi['cpus']}_reps"] = row["reps_sec"]
        per_query[name][f"c{lo['cpus']}_reps"] = lo_row["reps_sec"]
    out = {
        "metric": "scale_lane_ratio",
        "mult": hi["mult"],
        "cpus_hi": hi["cpus"],
        "cpus_lo": lo["cpus"],
        "fixture_rows": hi["fixture_rows"],
        "per_query": per_query,
        "total_hi_sec": round(sum(v["min_sec"] for v in hi["queries"].values()), 3),
        "total_lo_sec": round(sum(v["min_sec"] for v in lo["queries"].values()), 3),
        "runs": paths,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in ("metric", "total_hi_sec", "total_lo_sec")}))


def main() -> None:
    args = sys.argv[1:]
    if "--combine" in args:
        i = args.index("--combine")
        paths = []
        j = i + 1
        while j < len(args) and not args[j].startswith("--"):
            paths.append(args[j])
            j += 1
        out = "SCALING_LANE.json"
        if "--out" in args:
            out = args[args.index("--out") + 1]
        combine(paths, out)
        return
    mult = int(args[args.index("--mult") + 1]) if "--mult" in args else 10
    reps = int(args[args.index("--reps") + 1]) if "--reps" in args else 3
    queries = (
        args[args.index("--queries") + 1].split(",")
        if "--queries" in args
        else HEAVY
    )
    from squirtle_spark.session import DEFAULT_CPUS

    cpus = DEFAULT_CPUS
    out = (
        args[args.index("--out") + 1]
        if "--out" in args
        else f"SCALE_LANE_c{cpus}.json"
    )
    run_lane(mult, queries, reps, out)


if __name__ == "__main__":
    main()
