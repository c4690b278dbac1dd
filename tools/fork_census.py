#!/usr/bin/env python
"""Count the processes the Spark JVM forks during warm benchmark passes.

    python tools/fork_census.py [--workload stream_nexmark] [--passes 2] [--seed 26]

Runs one flockbench workload (set-up, the cold pass and its warm-up
passes, unrecorded), then records ``jdk.ProcessStart`` events with the
JVM's own flight recorder (``jdk.jfr.Recording`` through py4j) over
``--passes`` warm passes. Prints one JSON object: the total, the count
per command (``readlink``, ``chmod``, ...) and the count per checkpoint
area named by the command's path argument (``state``, ``offsets``,
``commits``, ``sources``, ``_spark_metadata``, ``other``). Hadoop's
local file system forks these helpers when libhadoop is absent, so the
census shows how much of a micro-batch's checkpoint cost is process
start-up (SCALING.md, "Checkpoint-file forks").

Needs the JDK's ``jfr`` tool next to ``java``. Outputs are checked as in
a benchmark run; the work dir lives under ``.flockbench/``.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
AREAS = ("state", "offsets", "commits", "sources", "_spark_metadata")


def classify(command: str) -> tuple[str, str]:
    """(program, checkpoint area) of one forked command line."""
    words = command.split()
    program = os.path.basename(words[0]) if words else ""
    area = next((a for a in AREAS if re.search(rf"/{a}(/|$|\s)", command)), "other")
    return program, area


def census(jfr_file: str) -> dict:
    jfr = shutil.which("jfr") or os.path.join(os.path.dirname(shutil.which("java")), "jfr")
    out = subprocess.run(
        [jfr, "print", "--json", "--events", "jdk.ProcessStart", jfr_file],
        check=True, capture_output=True, text=True,
    ).stdout
    events = json.loads(out)["recording"]["events"]
    by_program, by_area = collections.Counter(), collections.Counter()
    for e in events:
        program, area = classify(e["values"]["command"])
        by_program[program] += 1
        by_area[area] += 1
    return {
        "forks": len(events),
        "by_program": dict(by_program.most_common()),
        "by_area": dict(by_area.most_common()),
    }


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", default="stream_nexmark")
    p.add_argument("--passes", type=int, default=2)
    p.add_argument("--seed", type=int, default=26)
    args = p.parse_args(argv)

    sys.path[:0] = [str(ROOT / "flockbench"), str(ROOT)]
    import run as fb
    from harness import Tracer
    from workloads import WORKLOADS

    work = ROOT / ".flockbench" / f"fork-census-{os.getpid()}"
    fb.deploy_env(work)
    spark = runner = None
    try:
        spark = fb.start_session(work, len(os.sched_getaffinity(0)))
        tracer = Tracer(work.name, False)
        wl = WORKLOADS[args.workload]()
        wl.setup(spark, str(work), args.seed, tracer, {})
        runner = fb.Runner(wl, spark, work, tracer, False)
        for i in range(1 + wl.warmup_passes):
            runner.run_pass(f"unrecorded{i}")
        rec = spark._jvm.jdk.jfr.Recording()
        rec.enable("jdk.ProcessStart")
        rec.start()
        for i in range(args.passes):
            runner.run_pass(f"recorded{i}")
        rec.stop()
        jfr_file = str(work / "forks.jfr")
        rec.dump(spark._jvm.java.io.File(jfr_file).toPath())
        rec.close()
        result = {"workload": args.workload, "passes": args.passes,
                  "correct": runner.correct and runner.failed == 0, **census(jfr_file)}
    finally:
        if runner is not None:
            runner.close()
        if spark is not None:
            fb.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
