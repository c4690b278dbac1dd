#!/usr/bin/env python3
"""Warm-pass benchmark for flock-spark's SQL, streaming and curation layers.

    python3 flockbench/run.py --workload olap_curation --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One run starts one Spark session,
builds its seeded inputs (``setup_s``), times one cold pass, runs
unmeasured warm-up passes, then measures warm passes for ``--seconds``
(at least ``MIN_PASSES``) and reports medians. Every pass's outputs are
checked (``checks.py``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` holding the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics (and a span file
under ``.flockbench/traces/``). See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("olap_curation", "stream_nexmark")

#: Fewest measured passes, whatever ``--seconds`` allows.
MIN_PASSES = 2
#: The command that writes a fired Query-API window's result.
FIRE_PLAN = "InsertIntoHadoopFsRelationCommand"
#: Driver heap, fixed from the start (-Xms = -Xmx) so that garbage
#: collection does not grow it by a different amount in every run.
#: Deployment setting: the program's default (32g) is sized for a large host.
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    # the cold pass is reported here, not among the end-to-end metrics: it
    # is one sample per run, and no warm-up or longer run can steady it (README)
    "first_pass_s": "s",
    "session.start_s": "s",
    "sources.generate_s": "s",
    "sources.events": "count",
    "catalog.register_s": "s",
    "catalog.first_touch_s": "s",
    "registry.build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.exchanges": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "pyworker.run_s": "s",
    "pyworker.boot_s": "s",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows_peak": "count",
    "streaming.state_bytes_peak": "B",
    "api.windows_fired": "count",
    "api.buffer_s": "s",
    "api.fire_s": "s",
    "oracle.check_s": "s",
}


def log(msg: str) -> None:
    print(f"[flockbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def deploy_env(work: Path) -> None:
    """Point every scratch location inside the run's work dir before any
    module that reads them is imported or any JVM is launched."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()


def start_session(work: Path, cpus: int):
    from squirtle_spark import session

    return session.get_spark(
        app_name="flockbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and so its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs passes of one workload and keeps what each one measured."""

    def __init__(self, wl, spark, work: Path, tracer, trace: bool):
        from spark_counters import ActionListener, ExecCounters, StreamProgress

        self.wl, self.spark, self.work, self.tracer = wl, spark, work, tracer
        self.progress = StreamProgress()
        spark.streams.addListener(self.progress)
        self.actions = ActionListener(spark, phases=trace)
        self.exec = ExecCounters(spark) if trace else None
        self.n_pass = 0
        self.attempted = self.failed = 0
        self.correct = True

    def close(self) -> None:
        self.spark.streams.removeListener(self.progress)
        self.actions.close()

    def run_pass(self, label: str) -> dict:
        from harness import tree_cpu_s
        from spark_counters import catalyst_counters, drain, stream_counters

        pass_dir = self.work / f"pass-{self.n_pass:03d}"
        self.n_pass += 1
        pass_dir.mkdir()
        layers: dict[str, float] = {}
        unit, outputs, errors, batches, actions = {}, {}, {}, [], []
        drain(self.spark)
        self.progress.take()
        self.actions.take()
        pid = os.getpid()
        cpu0 = tree_cpu_s(pid)
        with self.tracer.span(f"pass.{label}"):
            for op in self.wl.ops:
                self.progress.tag = self.actions.tag = op
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"op.{op}"):
                        outputs[op] = self.wl.run_op(op, str(pass_dir), self.tracer, layers)
                except Exception as exc:  # one failed operation must not end the run
                    errors[op] = "".join(traceback.format_exception_only(exc)).strip()
                unit[op] = time.perf_counter() - t0
                drain(self.spark)
                batches.extend(self.progress.take())
                actions.extend(self.actions.take())
        wall = sum(unit.values())
        cpu = tree_cpu_s(pid) - cpu0
        if self.exec:
            layers.update(self.exec.take())
            layers.update(catalyst_counters(actions))
        layers.update(stream_counters(batches))
        # a Query-API window fires as one write of its result
        fired = [a["s"] for a in actions if a["tag"].startswith("api_") and a.get("plan") == FIRE_PLAN]
        layers["api.windows_fired"] = float(len(fired))
        layers["api.fire_s"] = sum(fired)
        layers["api.buffer_s"] = sum(b["trigger_s"] for b in batches if b["tag"].startswith("api_"))
        t0 = time.perf_counter()
        with self.tracer.span("oracle.check"):
            for op in self.wl.ops:
                self.attempted += 1
                if op in errors:
                    self.failed += 1
                    log(f"{label} {op} failed: {errors[op]}")
                    continue
                err = self.wl.check(op, outputs[op])
                if err:
                    self.failed += 1
                    self.correct = False
                    log(f"{label} {op} wrong output: {err}")
        layers["oracle.check_s"] = time.perf_counter() - t0
        shutil.rmtree(pass_dir, ignore_errors=True)
        log(f"{label} pass {wall:.3f}s cpu {cpu:.2f}s; "
            + " ".join(f"{op}={t:.2f}" for op, t in unit.items()))
        return {
            "label": label, "wall": wall, "cpu": cpu, "unit": unit,
            "stream_units": [b["trigger_s"] for b in batches] + fired, "layers": layers,
            "actions": actions,
        }


def end_to_end(wl_name: str, setup_s: float, measured: list[dict], rss_mb: float):
    from harness import median, tail

    if wl_name == "stream_nexmark":
        samples = sorted(s for p in measured for s in p["stream_units"])
    else:
        samples = sorted(s for p in measured for s in p["unit"].values())
    pct, tail_s = tail(samples)
    return {
        "setup_s": setup_s,
        "pass_s": median([p["wall"] for p in measured]),
        "cpu_s": median([p["cpu"] for p in measured]),
        "latency_p50_s": median(samples),
        "latency_tail_s": tail_s,
        "peak_rss_mb": rss_mb,
    }, {"tail_percentile": pct, "latency_samples": len(samples)}


def per_layer(setup_layers: dict, cold: dict, measured: list[dict]) -> dict[str, float]:
    from harness import median

    out = {}
    for name in PER_LAYER:
        if name in setup_layers:
            out[name] = setup_layers[name]
        elif name == "first_pass_s":
            out[name] = cold["wall"]
        elif name == "catalog.first_touch_s":
            out[name] = sum(
                cold["unit"][op] - median([p["unit"][op] for p in measured]) for op in cold["unit"]
            )
        elif name == "pyworker.boot_s":
            out[name] = cold["layers"].get(name, 0.0)
        elif name.endswith("_peak"):
            out[name] = max(p["layers"].get(name, 0.0) for p in measured)
        else:
            out[name] = median([p["layers"].get(name, 0.0) for p in measured])
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "squirtle_spark" / "__init__.py").is_file():
        log(f"no squirtle_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    if args.seconds < 1:
        log("--seconds must be at least 1")
        return 2
    base = ROOT / ".flockbench"
    work = base / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    deploy_env(work)
    sys.path[:0] = [str(HERE), str(ROOT)]

    from harness import Tracer, process_age_s, tree_peak_rss_mb
    from workloads import WORKLOADS

    # interpreter start-up before this module ran counts as set-up too
    started = time.perf_counter() - process_age_s()

    run_id = work.name
    tracer = Tracer(run_id, bool(args.trace))
    setup_layers: dict[str, float] = {}
    spark = runner = None
    try:
        with tracer.span("setup"):
            with tracer.span("session.start"):
                t0 = time.perf_counter()
                spark = start_session(work, len(os.sched_getaffinity(0)))
                setup_layers["session.start_s"] = time.perf_counter() - t0
            wl = WORKLOADS[args.workload]()
            wl.setup(spark, str(work), args.seed, tracer, setup_layers)
        setup_s = time.perf_counter() - started
        runner = Runner(wl, spark, work, tracer, bool(args.trace))
        cold = runner.run_pass("cold")
        for i in range(wl.warmup_passes):
            runner.run_pass(f"warmup{i}")
        measured = []
        deadline = time.perf_counter() + args.seconds
        while len(measured) < MIN_PASSES or time.perf_counter() < deadline:
            measured.append(runner.run_pass(f"measured{len(measured)}"))
        rss = tree_peak_rss_mb(os.getpid())
        e2e, tail = end_to_end(args.workload, setup_s, measured, rss)
        log(f"end-to-end {json.dumps(e2e)} {json.dumps(tail)} first_pass_s {cold['wall']}")
        if args.trace:
            metrics = per_layer(setup_layers, cold, measured)
            units = PER_LAYER
            trace_dir = base / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            trace_file = trace_dir / f"{args.workload}-seed{args.seed}.json"
            trace_file.write_text(json.dumps({
                "run": run_id, "workload": args.workload, "seed": args.seed,
                "end_to_end": e2e, **tail, "per_layer": metrics,
                "self_time_s": tracer.self_time_by_name(),
                "passes": [{k: p[k] for k in ("label", "wall", "cpu", "unit", "stream_units", "layers", "actions")}
                           for p in [cold] + measured],
                "spans": tracer.spans,
            }, indent=1))
            log(f"trace written to {trace_file}")
        else:
            metrics, units = e2e, END_TO_END
        result = {
            "correct": runner.correct,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if runner is not None:
            runner.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
