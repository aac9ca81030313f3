"""One benchmark workload in a fresh process: set up, run, check, report.

Usage: ``python3 perfbench/workloads.py CONFIG_JSON`` (``run.py`` writes
the config and starts this process). Protocol with the parent: the
line ``READY`` on stdout marks the end of set-up (session up and a
first trivial action done; for the stream, ``run_spec`` returned); the
results go to ``config["result_path"]`` as JSON. ``mode: probe`` stops
right after ``READY`` (extra set-up samples).

Specs run through the engine's public API only: ``Spec.from_yaml``,
``registry.lookup`` plus each source, processor and sink factory for
the batch workloads (the steps ``compile_spec`` takes), and
``run_spec`` for the stream.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os
import subprocess
import sys
import time
from statistics import median

import pyarrow.parquet as pq

from spans import PIN_CALLSITES, StatusReader, Tracer, span_counts
from stats import highest_supported, self_times, union_length

CFG: dict = {}  # this run's configuration, loaded by main()
T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since process start."""
    print(f"[perfbench] +{time.perf_counter() - T0:.1f}s {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- specs


def curate_spec(work: str, out: str) -> str:
    return f"""
input:
  type: table
  path: {work}/docs
  name: documents
pipeline:
  processors:
    - type: text_stats
    - type: quality_filter
      min_quality: 0.3
    - type: dedup_lines
      min_count: 2
    - type: decontaminate
      eval_path: {work}/eval
      eval_name: documents
      n: 4
    - type: dedup_minhash
      threshold: 0.8
    - type: pack_sequences
      budget: 2048
      n_shards: 8
      tokenizer: bpe
output:
  type: file
  path: {out}
  format: parquet
"""


STREAM_PROCESSORS = """
    - type: redact_pii
      counts: true
    - type: repetition_filter
      max_dup_fraction: 0.5
    - type: quality_filter
      min_quality: 0.2
    - type: fingerprint
    - type: dedup_within_watermark
      columns: [fp]
      ts_col: ts
      delay: 60 minutes"""


def stream_spec(in_dir: str, out: str, ckpt: str, state_partitions: int, stream: bool = True) -> str:
    return f"""
engine:
  state_partitions: {state_partitions}
input:
  type: file
  path: {in_dir}
  format: parquet
  stream: {str(stream).lower()}
  as_messages: false
  schema: "doc_id long, ts timestamp_ntz, text string"
  maxFilesPerTrigger: "16"
pipeline:
  processors:{STREAM_PROCESSORS}
output:
  type: file_exactly_once
  path: {out}
  checkpoint: {ckpt}
"""


def op_tags(spec) -> list[str]:
    """Processor tags, numbered from the second use of a tag on."""
    seen: dict[str, int] = {}
    tags = []
    for p in spec.processors:
        t = p["type"]
        seen[t] = seen.get(t, 0) + 1
        tags.append(t if seen[t] == 1 else f"{t}_{seen[t]}")
    return tags


# ---------------------------------------------------------------- session


def start_session():
    from nekton_spark.session import get_spark

    w = CFG["work"]
    conf = {
        "spark.local.dir": f"{w}/spark-local",
        "spark.sql.warehouse.dir": f"{w}/warehouse",
        # initial heap = max heap: no run-to-run variation in how far the heap grew
        "spark.driver.extraJavaOptions": f"-Xms{CFG['heap']} -Djava.io.tmpdir={w}/tmp -Dderby.system.home={w}/derby",
        # keep every job, stage and execution of a run readable afterwards
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------- batch


def build_frames(spark, tracer: Tracer, spec) -> list:
    """The source and processor factories in spec order, one span per
    call (the steps ``compile_spec`` takes); [(tag, frame after it)]."""
    from nekton_spark.registry import PROCESSORS, SOURCES, lookup

    with tracer.span("sources.build", "sources"):
        factory, conf = lookup(SOURCES, "source", spec.input)
        df = factory(spark, **conf)
    frames = []
    for tag, proc in zip(op_tags(spec), spec.processors):
        with tracer.span(f"operators.{tag}", "operators", tag=tag):
            factory, conf = lookup(PROCESSORS, "processor", proc)
            df = factory(df, **conf)
        frames.append((tag, df))
    return frames


def run_batch(spark, tracer: Tracer, spec_text: str) -> tuple[float, dict, list]:
    """Spec.from_yaml → sink return, one span per layer call."""
    from nekton_spark.registry import SINKS, lookup
    from nekton_spark.spec import Spec

    t0 = time.perf_counter()
    with tracer.span("iteration", "job") as root:
        with tracer.span("spec.parse", "spec"):
            spec = Spec.from_yaml(spec_text)
        frames = build_frames(spark, tracer, spec)
        df = frames[-1][1]
        with tracer.span("sinks.write", "sinks"):
            factory, conf = lookup(SINKS, "sink", spec.output)
            factory(df, **conf)
    return time.perf_counter() - t0, root, frames


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning seconds of ``df``'s plan, planned anew."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        out[name] = phases.apply(name).durationMs() / 1000.0 if phases.contains(name) else 0.0
    return out


def layer_metrics(reader: StatusReader, tracer: Tracer) -> dict:
    """Per-layer numbers of one traced iteration, and exec/pin child spans."""
    tree = list(tracer.spans)
    span_counts(reader, tree)
    m: dict[str, float] = {}
    n_pins, pin_iv, py = 0, [], {"udf_s": 0.0, "rows": 0.0, "bytes": 0.0}
    for s in tree:
        c = s.get("counts")
        if not c:
            continue
        for k in py:
            py[k] += c[f"py_{k}"]
        # Spark jobs become child spans: pins under materialize, the rest under exec
        for j in c["job_list"]:
            pin = j["name"].startswith(PIN_CALLSITES)
            n_pins += pin
            if j["start"] and j["end"]:
                if pin:
                    pin_iv.append((j["start"], j["end"]))
                tracer.add(f"job {j['id']}", "materialize" if pin else "exec", max(j["start"], s["start"]), min(j["end"], s["end"]), s)
    by = {s["name"]: s for s in tree}
    m["spec.parse_s"] = _dur(by["spec.parse"])
    m["sources.build_s"] = _dur(by["sources.build"])
    m["sources.input_bytes"] = sum(s["counts"]["input_bytes"] for s in tree if s.get("counts"))
    for s in tree:
        if s["layer"] == "operators":
            t = s["tag"]
            m[f"operators.{t}.build_s"] = _dur(s)
            m[f"operators.{t}.jobs"] = s["counts"]["jobs"]
    m["materialize.pins"] = n_pins
    m["materialize.pin_s"] = union_length(pin_iv)
    m["pyworker.udf_s"], m["pyworker.rows"], m["pyworker.bytes"] = py["udf_s"], py["rows"], py["bytes"]
    sink = by["sinks.write"]
    c = sink["counts"]
    for k in ("jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{k}"] = c[k]
    m["sinks.write_s"] = _dur(sink)
    m["sinks.output_rows"] = c["output_rows"]
    m["sinks.output_bytes"] = c["output_bytes"]
    return m


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_self(spans: list[dict], root: dict | None) -> dict:
    """Self time per layer (the root span's own self time is 'unattributed')."""
    out: dict[str, float] = {}
    for s, st in zip(spans, self_times(spans).values()):
        key = "unattributed" if root is not None and s["id"] == root["id"] else s["layer"]
        out[key] = out.get(key, 0.0) + st
    return out


def _summary(self_by_layer: dict, wall: float) -> dict:
    layers = {k: v for k, v in self_by_layer.items() if k != "unattributed"}
    top = max(layers, key=layers.get)
    print(f"[perfbench] dominant layer by self time: {top} ({layers[top]:.3f} s of {wall:.3f} s)", file=sys.stderr)
    return {"wall": wall, "self_by_layer": self_by_layer, "self_sum": sum(self_by_layer.values()), "dominant_layer": top}


def batch_workload(spark, name: str) -> dict:
    w, traced = CFG["work"], CFG["mode"] == "trace"
    check = CurateCheck(CFG["inputs"])

    reader = StatusReader(spark) if traced else None
    plain = Tracer(spark.sparkContext, enabled=False)
    res: dict = {"iterations": [], "traced": [], "layers": [], "self": []}
    deadline = None
    k = 0
    while True:
        # the traced run alternates untraced and traced warm iterations
        # (U T U ...), so the tracing overhead is measured within one
        # process and each traced iteration has an untraced one either side
        trace_this = traced and k >= 2 and k % 2 == 0
        tracer = Tracer(spark.sparkContext, enabled=True) if trace_this else plain
        out = f"{w}/out/{k}"
        wall, root, frames = run_batch(spark, tracer, curate_spec(w, out))
        ok, why = check.verify(out)
        if not ok:
            print(f"[perfbench] {name} iteration {k}: WRONG OUTPUT: {why}", file=sys.stderr)
        rec = {"wall": wall, "ok": ok}
        print(f"[perfbench] {name} iteration {k} traced={trace_this} wall={wall:.3f}s ok={ok}", file=sys.stderr)
        if trace_this:
            res["layers"].append(layer_metrics(reader, tracer))
            res["self"].append(layer_self(tracer.spans, root))
            res["traced"].append(rec)
            last = (tracer, root, frames)
        else:
            res["iterations"].append(rec)
        k += 1
        if deadline is None:
            deadline = time.perf_counter() + CFG["seconds"]
        done = time.perf_counter() >= deadline
        warm = len(res["iterations"]) - 1
        # one warm iteration untraced (U T U traced): more do not fit the
        # budget of a full pass (4 + 22 runs per workload in 3420 s) and did
        # not make job_s steadier, as run-to-run host speed sets its spread
        if done and warm >= 1 + traced and len(res["traced"]) >= traced:
            break
    if traced:
        tracer, root, frames = last
        cat = catalyst_phases(frames[-1][1])
        rows = {f"operators.{t}.rows_out": float(df.count()) for t, df in frames}
        for lm in res["layers"]:
            lm.update({f"catalyst.{k}_s": v for k, v in cat.items()})
            lm.update(rows)
        tracer.dump(CFG["spans_path"], _summary(res["self"][-1], _dur(root)))
    return res


class CurateCheck:
    """At most one survivor (a row with tokens) per planted duplicate
    cluster, no planted-contaminated id anywhere in the output, and the
    same output digest on every iteration of a run."""

    def __init__(self, manifest: dict):
        self.m = manifest
        self.digests: list[str] = []

    def verify(self, out: str) -> tuple[bool, str]:
        t = pq.read_table(out).to_pandas()
        # pack_sequences names its id column "id"
        live = set(t.loc[t["n_tokens"] > 0, "id"].tolist())
        allids = set(t["id"].tolist())
        digest = hashlib.sha256(t.sort_values(list(t.columns)).to_csv(index=False).encode()).hexdigest()
        self.digests.append(digest)
        for cl in self.m["exact_dup_clusters"] + self.m["near_dup_pairs"]:
            if len(live & set(cl)) > 1:
                return False, f"cluster {cl} has {len(live & set(cl))} survivors"
        bad = allids & set(self.m["contaminated_ids"])
        if bad:
            return False, f"contaminated ids in output: {sorted(bad)[:5]}"
        if len(live) < self.m["n_docs"] // 2:
            return False, f"only {len(live)} of {self.m['n_docs']} documents survive"
        if digest != self.digests[0]:
            return False, "output digest differs from the first iteration"
        return True, "ok"


# ---------------------------------------------------------------- stream


def _progress_end(p: dict) -> float:
    t = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return t.timestamp() + p["durationMs"].get("triggerExecution", 0) / 1000.0


def _batch_files(ckpt: str) -> dict[str, int]:
    """Input file name → micro-batch id, from the file source's own log."""
    out = {}
    for f in glob.glob(f"{ckpt}/sources/0/*"):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def start_stream(spark, probe: bool):
    from nekton_spark.spec import run_spec

    w = f"{CFG['work']}/{'probe' if probe else 'stream'}"
    for d in ("in", "stage"):
        os.makedirs(f"{w}/{d}", exist_ok=True)
    text = stream_spec(f"{w}/in", f"{w}/out", f"{w}/ckpt", CFG["inputs"]["state_partitions"])
    return w, run_spec(spark, text)


def stream_workload(spark, w: str, q) -> dict:
    from nekton_spark.spec import Spec

    inp = CFG["inputs"]
    stop_file = f"{w}/stop"
    feed = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"), "feed",
         f"{w}/in", f"{w}/stage", f"{w}/feed.jsonl", str(CFG["seed"]), str(inp["rate"]), str(inp["tick_s"]), stop_file],
    )
    try:
        # poll the last progress only: reading all of recentProgress costs
        # a py4j round trip per batch, on the driver the stream runs in
        t_feed = time.time()
        warm_at = None
        while warm_at is None:
            p = q.lastProgress
            if p is not None and p.numInputRows > 0:
                warm_at = _progress_end(json.loads(p.json))
            if time.time() - t_feed > 120:
                raise RuntimeError("no micro-batch completed within 120 s")
            time.sleep(0.05)
        log("first micro-batch done")
        t_min = time.time() + CFG["seconds"]
        seen: set[int] = set()
        while True:
            time.sleep(0.1)
            p = q.lastProgress
            if p.numInputRows > 0 and _progress_end(json.loads(p.json)) > warm_at + 1e-6:
                seen.add(p.batchId)
            if (time.time() >= t_min and len(seen) >= inp["min_batches"]) or time.time() - t_min > 60:
                break
        t_end = time.time()
        log("stream window done")
    finally:
        open(stop_file, "w").close()
        feed.wait(timeout=30)
    q.processAllAvailable()
    q.stop()
    log("stream stopped")
    progress = [json.loads(p.json) for p in q.recentProgress]

    ticks = [json.loads(line) for line in open(f"{w}/feed.jsonl")]
    due_by_file = {f"part-{t['k']:06d}.parquet": t["due"] for t in ticks}
    files = _batch_files(f"{w}/ckpt")
    oldest: dict[int, float] = {}
    for f, b in files.items():
        oldest[b] = min(oldest.get(b, float("inf")), due_by_file[f])
    batches = []
    cum_in = 0
    for p in progress:
        end = _progress_end(p)
        cum_in += p["numInputRows"]
        so = (p.get("stateOperators") or [{}])[0]
        batches.append({
            "id": p["batchId"], "end": end, "start": end - p["durationMs"].get("triggerExecution", 0) / 1000.0,
            "rows": p["numInputRows"], "d": p["durationMs"], "state": so,
            "latency": (end - oldest[p["batchId"]]) if p["batchId"] in oldest and p["numInputRows"] > 0 else None,
            "backlog": sum(t["n"] for t in ticks if t["done"] <= end) - cum_in,
        })
    first = next(b for b in batches if b["rows"] > 0)
    window = [b for b in batches if b["start"] >= warm_at and b["end"] <= t_end]
    live = [b for b in window if b["rows"] > 0]
    lat = [b["latency"] for b in live if b["latency"] is not None]
    res = {
        "first_batch_s": first["end"] - first["start"],
        "batch_s": [b["end"] - b["start"] for b in live],
        "latency": lat,
        "gen_late_s_max": max((t["done"] - t["due"] for t in ticks), default=0.0),
    }
    print(
        f"[perfbench] stream window: {len(window)} batches, {len(live)} non-empty, {len(lat)} latency samples"
        f" (highest percentile with 10 beyond: p{highest_supported(len(lat))})",
        file=sys.stderr,
    )
    if CFG["mode"] == "trace":
        def d(b, *keys):
            return sum(b["d"].get(k, 0) for k in keys) / 1000.0

        tr = Tracer(spark.sparkContext, enabled=True)
        # processor build times: the same chain compiled once more, outside run_spec
        with tr.span("compile", "job"):
            with tr.span("spec.parse", "spec"):
                spec = Spec.from_yaml(stream_spec(f"{w}/in", f"{w}/out2", f"{w}/ckpt2", inp["state_partitions"]))
            build_frames(spark, tr, spec)
        for b in batches:
            tr.add(f"batch {b['id']}", "streaming", b["start"], b["end"], None, rows=b["rows"], durationMs=b["d"])
        m = {s["name"]: s["end"] - s["start"] for s in tr.spans if s["layer"] in ("spec", "sources", "operators")}
        lm = {
            "spec.parse_s": m["spec.parse"],
            "sources.build_s": m["sources.build"],
            **{f"{k}.build_s": v for k, v in m.items() if k.startswith("operators.")},
            "streaming.batches": float(len(window)),
            "streaming.batch_s_p50": median([b["end"] - b["start"] for b in live]),
            "streaming.add_batch_s_p50": median([d(b, "addBatch") for b in live]),
            "streaming.planning_s_p50": median([d(b, "queryPlanning") for b in live]),
            "streaming.commit_s_p50": median([d(b, "walCommit", "commitOffsets") for b in live]),
            "streaming.state_commit_ms_p50": median([b["state"].get("commitTimeMs", 0) for b in live]),
            "streaming.state_rows": float(window[-1]["state"].get("numRowsTotal", 0)),
            "streaming.state_bytes": float(window[-1]["state"].get("memoryUsedBytes", 0)),
            "streaming.empty_batch_ratio": (len(window) - len(live)) / len(window),
            "streaming.dropped_by_watermark": float(sum(b["state"].get("numRowsDroppedByWatermark", 0) for b in window)),
            "sources.latest_offset_s_p50": median([d(b, "latestOffset") for b in live]),
            "sources.backlog_rows_max": float(max(b["backlog"] for b in window)),
            "gen.late_s_max": res["gen_late_s_max"],
        }
        # every SQL execution so far belongs to the stream (the output check
        # runs later); reported per micro-batch execution that ran the UDF
        py = StatusReader(spark).python_metrics(None, live=True)
        n = max(py.pop("executions"), 1)
        lm.update({f"pyworker.{k}": v / n for k, v in py.items()})
        res["layers"] = [lm]
        extent = max(s["end"] for s in tr.spans) - min(s["start"] for s in tr.spans)
        tr.dump(CFG["spans_path"], {**_summary(layer_self(tr.spans, None), extent), "window_batches": len(window)})
    res["check"], frames = stream_check(spark, w)
    log("stream output checked")
    if CFG["mode"] == "trace":
        # the stream's operators run per micro-batch inside the engine; their
        # rows come from the same chain run once as a batch over all the input
        res["layers"][0].update({f"operators.{t}.rows_out": float(df.count()) for t, df in frames})
    return res


def stream_check(spark, w: str) -> tuple[dict, list]:
    """No fp and no doc_id twice across epochs; the output fp set equals the
    distinct fps a batch run of the same filters keeps over all input.
    Also returns that batch run's frames, [(tag, frame after it)]."""
    from nekton_spark.spec import Spec

    out = spark.read.parquet(f"{w}/out").select("doc_id", "fp").toPandas()
    spec = Spec.from_yaml(stream_spec(f"{w}/in", "unused", "unused", 1, stream=False))
    frames = build_frames(spark, Tracer(spark.sparkContext, enabled=False), spec)
    ref = {r[0] for r in frames[-1][1].select("fp").distinct().collect()}
    got = set(out["fp"])
    dup_rows = (len(out) - out["fp"].nunique()) + (len(out) - out["doc_id"].nunique())
    missing = len(ref - got)
    extra = len(got - ref)
    check = {"expected": len(ref), "failed": dup_rows + missing + extra, "dup_rows": dup_rows, "missing": missing, "extra": extra}
    return check, frames


# ---------------------------------------------------------------- main


def main() -> None:
    with open(sys.argv[1]) as f:
        CFG.update(json.load(f))
    spark = start_session()
    stream = None
    if CFG["workload"] == "curation_stream":
        stream = start_stream(spark, probe=CFG["mode"] == "probe")
    print("READY", flush=True)
    log("set up")
    try:
        if CFG["mode"] == "probe":
            if stream:
                stream[1].stop()
            return
        if stream:
            res = stream_workload(spark, *stream)
        else:
            res = batch_workload(spark, CFG["workload"])
        with open(CFG["result_path"], "w") as f:
            json.dump(res, f)
    finally:
        stop_session(spark)
        log("session stopped")


if __name__ == "__main__":
    main()
