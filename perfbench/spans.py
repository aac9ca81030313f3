"""Spans around calls into the engine's layers, and Spark's own counts.

Nothing here changes the engine. A :class:`Tracer` opens a span around
each call the benchmark makes into a layer (spec parse, source factory,
each processor factory, the sink) and tags the Spark jobs the call
starts with a job group named after the span. After the iteration,
:func:`span_counts` reads those jobs back from Spark's application
status store (stages, tasks, GC, shuffle, spill, input/output) and the
SQL status store or its live accumulators (the Python-worker metrics of
each SQL execution). Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid

from stats import self_times


class Tracer:
    """In-memory spans with parent links and a shared run id."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = self.add(name, layer, time.time(), None, parent, group=f"{self.run_id}-{len(self.spans)}", **attrs)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def add(self, name: str, layer: str, start: float, end: float, parent: dict | None, **attrs) -> dict:
        """Record a span timed elsewhere (e.g. a micro-batch from stream progress)."""
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "start": start,
            "end": end,
            "group": None,  # the job group tagging this span's Spark jobs, if any
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def dump(self, path: str, summary: dict) -> None:
        selfs = self_times(self.spans)
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "summary": summary, "spans": self.spans}, f, indent=1, default=str)


def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_ROWS = "number of output rows"
_PY_NODE_HINTS = ("ArrowEvalPython", "MapInPandas", "MapInArrow", "BatchEvalPython", "FlatMapGroupsInPandas", "AggregateInPandas", "ArrowWindowPython", "PythonUDTF")


def _metric_value(text: str) -> float:
    """First number of a formatted SQL metric, in base units (s, bytes, rows).

    Formats: ``"1,234"``, ``"total (min, med, max (stageId: taskId))\\n12.3 MiB (…)"``,
    ``"… \\n1.2 s (…)"`` / ``"… ms"`` / ``"… m"`` / ``"… h"``."""
    line = text.strip().split("\n")[-1].strip()
    head = line.split(" (")[0].strip()
    parts = head.split(" ")
    num = float(parts[0].replace(",", ""))
    unit = parts[1] if len(parts) > 1 else ""
    scale = {
        "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
        "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "": 1,
    }
    return num * scale.get(unit, 1)


class StatusReader:
    """Reads jobs, stages and SQL executions from Spark's status stores."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._empty_tasks = self.jvm.java.util.ArrayList()
        self._no_q = self.sc._gateway.new_array(self.jvm.double, 0)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job(self, jid: int) -> dict:
        j = self.store.job(jid)
        return {
            "id": jid,
            "name": j.name(),
            "status": str(j.status()),
            "start": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()),
            "stages": [int(s) for s in _seq(self.jvm, j.stageIds())],
        }

    def stage(self, sid: int) -> dict | None:
        attempts = _seq(self.jvm, self.store.stageData(sid, False, self._empty_tasks, False, self._no_q))
        out = None
        for a in attempts:
            if str(a.status()) == "SKIPPED":
                continue
            d = {
                "tasks": a.numTasks(),
                "failed_tasks": a.numFailedTasks(),
                "task_s": a.executorRunTime() / 1000.0,
                "gc_s": a.jvmGcTime() / 1000.0,
                "shuffle_write_bytes": a.shuffleWriteBytes(),
                "shuffle_read_bytes": a.shuffleReadBytes(),
                "spill_bytes": a.memoryBytesSpilled() + a.diskBytesSpilled(),
                "input_bytes": a.inputBytes(),
                "output_bytes": a.outputBytes(),
                "output_rows": a.outputRecords(),
                "attempts": 1,
            }
            if out is None:
                out = d
            else:
                for k, v in d.items():
                    out[k] += v
        return out

    def python_metrics(self, job_ids: set[int] | None, live: bool = False) -> dict:
        """Python-worker SQL metrics summed over the executions that ran
        ``job_ids`` (None: every execution so far), and how many
        executions had a Python plan node.

        ``live`` reads the driver-side accumulators instead of the status
        store. A streaming foreachBatch write runs the micro-batch plan's
        Python node inside another execution's jobs, so the status store
        never files those values under the micro-batch execution; the
        accumulators have them while the plan is still referenced."""
        tot = {"udf_s": 0.0, "rows": 0.0, "bytes": 0.0, "executions": 0}
        acc_ctx = self.jvm.org.apache.spark.util.AccumulatorContext
        for ex in _seq(self.jvm, self.sql_store.executionsList()):
            if job_ids is not None:
                ex_jobs = {int(k) for k in _seq(self.jvm, ex.jobs().keys().toSeq())}
                if not ex_jobs & job_ids:
                    continue
            py_accs = set()
            for node in _seq(self.jvm, self.sql_store.planGraph(ex.executionId()).allNodes()):
                if any(h in node.name() for h in _PY_NODE_HINTS):
                    py_accs.update(m.accumulatorId() for m in _seq(self.jvm, node.metrics()))
            if not py_accs:
                continue
            values = None if live else self.sql_store.executionMetrics(ex.executionId())
            found = False
            for m in _seq(self.jvm, ex.metrics()):
                acc, name = m.accumulatorId(), m.name()
                key = {PY_TIME: "udf_s", PY_SENT: "bytes", PY_RECV: "bytes"}.get(name)
                if key is None and name == PY_ROWS and acc in py_accs:
                    key = "rows"
                if key is None:
                    continue
                if live:
                    a = acc_ctx.get(acc)
                    if not a.isDefined():
                        continue
                    v = a.get().value() * _RAW_SCALE.get(m.metricType(), 1.0)
                elif values.contains(acc):
                    v = _metric_value(values.apply(acc))
                else:
                    continue
                tot[key] += v
                found = True
            tot["executions"] += found
        return tot


# raw SQLMetric values → base units (s, bytes, rows)
_RAW_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


# call sites of the jobs an eager materialize() runs (one job per pin)
PIN_CALLSITES = ("localCheckpoint at", "checkpoint at")


def span_counts(reader: StatusReader, spans: list[dict]) -> None:
    """Attach Spark's counts to every span that tagged a job group."""
    seen_stages: set[int] = set()
    for s in spans:
        if not s.get("group"):
            continue
        jobs = [reader.job(j) for j in reader.jobs(s["group"])]
        c = {
            "jobs": len(jobs),
            "stages": 0, "tasks": 0, "failed_tasks": 0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
            "input_bytes": 0, "output_bytes": 0, "output_rows": 0,
        }
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen_stages:
                    continue
                st = reader.stage(sid)
                if st is None:
                    continue
                seen_stages.add(sid)
                c["stages"] += 1
                for k in ("tasks", "failed_tasks", "task_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes", "output_rows"):
                    c[k] += st[k]
        c["job_list"] = jobs
        py = reader.python_metrics({j["id"] for j in jobs})
        c.update({f"py_{k}": py[k] for k in ("udf_s", "rows", "bytes")})
        s["counts"] = c
