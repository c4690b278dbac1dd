"""Spark's own counters, read from outside the program.

- ``StreamProgress``: a ``StreamingQueryListener`` keeping every
  ``StreamingQueryProgress`` (micro-batch phase durations, state-store
  commit time and size). Installed in every run: micro-batch
  ``triggerExecution`` is the streaming workload's latency unit.
- ``ActionListener``: a ``QueryExecutionListener`` recording every
  action's duration (a Query-API window firing is one such action) and,
  in traced runs, the ``QueryExecution`` tracker's analysis /
  optimization / planning phases.
- ``ExecCounters``: job, stage and task totals from the application
  status store, plus shuffle-exchange counts and Python-worker times
  from the SQL status store. Traced runs only.

All three read asynchronously-delivered listener events, so callers
``drain()`` the listener bus before reading.
"""

from __future__ import annotations

import re

from pyspark.sql.streaming import StreamingQueryListener

PROGRESS_PHASES = {
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.get_batch_s": "getBatch",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}


def drain(spark) -> None:
    """Wait until every listener event posted so far has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class StreamProgress(StreamingQueryListener):
    """Collects micro-batch progress, tagged with the caller's current
    ``tag`` so batches can be attributed to the runner that made them."""

    def __init__(self):
        self.tag = ""
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        dur = dict(p.durationMs or {})
        ops = p.stateOperators or []
        self.batches.append(
            {
                "tag": self.tag,
                "trigger_s": dur.get("triggerExecution", 0) / 1000.0,
                "phases_s": {k: dur.get(v, 0) / 1000.0 for k, v in PROGRESS_PHASES.items()},
                "state_commit_s": sum((o.commitTimeMs or 0) for o in ops) / 1000.0,
                "state_rows": sum((o.numRowsTotal or 0) for o in ops),
                "state_bytes": sum((o.memoryUsedBytes or 0) for o in ops),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        out, self.batches = self.batches, []
        return out


def stream_counters(batches: list[dict]) -> dict[str, float]:
    """Per-layer streaming totals over a list of collected batches."""
    out = {"streaming.batches": float(len(batches))}
    for k in PROGRESS_PHASES:
        out[k] = sum(b["phases_s"][k] for b in batches)
    out["streaming.state_commit_s"] = sum(b["state_commit_s"] for b in batches)
    out["streaming.state_rows_peak"] = float(max((b["state_rows"] for b in batches), default=0))
    out["streaming.state_bytes_peak"] = float(max((b["state_bytes"] for b in batches), default=0))
    return out


class ActionListener:
    """py4j-implemented ``QueryExecutionListener``: one record per
    successful action with the caller's current ``tag``, the action name
    and its duration; with ``phases`` also the ``QueryExecution``
    tracker's analysis / optimization / planning durations."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self, spark, phases: bool):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.tag = ""
        self.phases = phases
        self.actions: list[dict] = []
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def close(self) -> None:
        self._manager.unregister(self)

    def onSuccess(self, func_name, qe, duration_ns):
        rec = {"tag": self.tag, "func": func_name, "s": duration_ns / 1e9}
        if func_name == "command":
            rec["plan"] = qe.analyzed().nodeName()
        if self.phases:
            phases = qe.tracker().phases()
            for p in self.PHASES:
                opt = phases.get(p)
                rec[p] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        self.actions.append(rec)

    def onFailure(self, func_name, qe, exception):
        pass

    def take(self) -> list[dict]:
        out, self.actions = self.actions, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def catalyst_counters(actions: list[dict]) -> dict[str, float]:
    return {f"catalyst.{p}_s": sum(a.get(p, 0.0) for a in actions) for p in ActionListener.PHASES}


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
}


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric value: ``'2.0 s'``, ``'442 ms'``,
    ``'1,234'`` or the ``'total (min, med, max ...)\\n<total> (...)'`` form.
    Times come back in seconds, sizes in bytes."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsable metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class ExecCounters:
    """Deltas of the status stores' job, stage and SQL-execution records."""

    PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
    PY_RUN = "time to run Python workers"
    SHUFFLE = "shuffle records written"

    def __init__(self, spark):
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mark = self._ids()

    def _stages(self):
        return self._app.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )

    def _ids(self) -> tuple[int, int, int]:
        stages, jobs, execs = self._stages(), self._app.jobsList(None), self._sql.executionsList()
        return (
            max((stages.apply(i).stageId() for i in range(stages.size())), default=-1),
            max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1),
            max((execs.apply(i).executionId() for i in range(execs.size())), default=-1),
        )

    def take(self) -> dict[str, float]:
        """Counters of everything that ran since the previous ``take``."""
        stage_mark, job_mark, exec_mark = self._mark
        self._mark = self._ids()
        out = dict.fromkeys(
            ("exec.run_s", "exec.jobs", "exec.tasks", "exec.exchanges",
             "exec.shuffle_write_bytes", "exec.spill_bytes",
             "pyworker.boot_s", "pyworker.run_s"),
            0.0,
        )
        out["exec.jobs"] = float(self._mark[1] - job_mark)
        stages = self._stages()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() > stage_mark:
                out["exec.run_s"] += s.executorRunTime() / 1000.0
                out["exec.tasks"] += s.numCompleteTasks()
                out["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["exec.spill_bytes"] += s.diskBytesSpilled()
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() <= exec_mark:
                continue
            values = self._sql.executionMetrics(e.executionId())
            metrics = e.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                name = m.name()
                if name == self.SHUFFLE:
                    out["exec.exchanges"] += 1
                elif name in self.PY_BOOT:
                    out["pyworker.boot_s"] += parse_metric(v.get())
                elif name == self.PY_RUN:
                    out["pyworker.run_s"] += parse_metric(v.get())
        return out
