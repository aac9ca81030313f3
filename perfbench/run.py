"""Same-host spec benchmark for nekton_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload curate_batch|curation_stream \\
        --seed N --seconds S --trace 0|1

Generates the workload's inputs from ``--seed`` into a scratch directory
under ``.perfbench_work/`` in the checkout (removed at exit; one left by
a killed run is removed by the next run), then runs the workload in a
fresh process (``workloads.py``). With ``--trace 0`` it first starts
:data:`SETUP_PROBES` extra fresh processes that only set up, so
``setup_s`` is a median of several set-ups. Once a workload process
has set up, this process samples the resident memory of its whole
process tree from ``/proc`` once a second. The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (spans go to ``.perfbench_out/spans-<workload>-<seed>.json``).
See ``perfbench/layers.json`` for what each metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from statistics import median

import gen
from stats import percentile

HERE = os.path.dirname(os.path.abspath(__file__))

# Workload sizes, fixed so every run of one workload does the same work.
CORPUS_BASE_DOCS = 600  # curate_batch: ~650 docs after planted copies
STREAM_RATE = 400  # rows/s, well under the ~1000 rows/s this chain sustains
STREAM_TICK_S = 0.37  # not a multiple of any trigger period: no phase lock
STATE_PARTITIONS = 2
MIN_STREAM_BATCHES = 20  # latency p50 needs 10 batches beyond it
SETUP_PROBES = 1
DRIVER_HEAP = "2g"
CHILD_TIMEOUT_S = 170
# One sample of the tree's PSS costs ~50 ms of CPU (smaps_rollup walks the
# JVM's page tables); once a second keeps that under 5% of one core.
RSS_PERIOD_S = 1.0

WORKLOADS = ("curate_batch", "curation_stream")


def _tree_rss_mb(root_pid: int, skip: str) -> tuple[float, dict]:
    """Resident memory (MB) of ``root_pid`` and its descendants, except
    processes whose command line contains ``skip`` (the load generator),
    and its split by program name.

    Each process counts its proportional share (PSS), so forked Python
    workers do not count the pages they share with their daemon twice.
    A child whose command line equals its parent's JVM is the JVM
    spawning a Python worker: until it execs it shares the JVM's whole
    address space (vfork), so it is not counted at all."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    cmds: dict[int, bytes] = {}
    for p in tree:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmds[p] = f.read()
        except OSError:
            pass
    split: dict[str, float] = {}
    for p, cmd in cmds.items():
        name = os.path.basename(cmd.split(b"\0")[0].decode(errors="replace"))
        if skip.encode() in cmd or (name == "java" and cmds.get(parent.get(p)) == cmd):
            continue
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                mb = next(int(line.split()[1]) for line in f if line.startswith("Pss:")) / 1024
        except (OSError, IndexError, ValueError, StopIteration):
            continue
        split[name] = split.get(name, 0.0) + mb
    return sum(split.values()), split


def _end_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group and wait until
    every member is gone (the child normally leaves nothing behind)."""
    try:
        os.killpg(proc.pid, signal.SIGKILL if proc.poll() is None else signal.SIGTERM)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        left = False
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        left = left or int(f.read().rsplit(")", 1)[1].split()[2]) == proc.pid
                except (OSError, IndexError, ValueError):
                    pass
        if not left:
            return
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _cpu_jiffies() -> list[int]:
    """The host's CPU time counters: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def run_child(cfg: dict, cfg_path: str, env: dict) -> tuple[float, float, float]:
    """Start a workload process; return (seconds to READY, peak tree RSS MB,
    share of the host's CPU time stolen by the hypervisor meanwhile).
    A set-up probe is killed as soon as it reports READY."""
    probe = cfg["mode"] == "probe"
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    cpu0 = _cpu_jiffies()
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "workloads.py"), cfg_path],
        stdout=subprocess.PIPE, env=env, start_new_session=True, text=True,
    )
    ready: list[float] = []
    ready_evt = threading.Event()

    def read():
        for line in proc.stdout:
            if line.strip() == "READY" and not ready:
                ready.append(time.perf_counter() - t0)
                ready_evt.set()

    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    peak, peak_split = 0.0, {}
    try:
        while proc.poll() is None and not (probe and ready):
            if time.perf_counter() - t0 > CHILD_TIMEOUT_S:
                raise TimeoutError(f"{cfg['workload']} {cfg['mode']} exceeded {CHILD_TIMEOUT_S} s")
            if not ready:
                # no sampling during set-up, so both set-ups run alike
                ready_evt.wait(RSS_PERIOD_S)
                continue
            rss, split = _tree_rss_mb(proc.pid, "gen.py")
            if rss > peak:
                peak, peak_split = rss, split
            with contextlib.suppress(subprocess.TimeoutExpired):
                proc.wait(RSS_PERIOD_S)
    finally:
        _end_group(proc)
        reader.join(timeout=10)
    cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
    steal = cpu[7] / max(sum(cpu), 1)
    if not probe:
        print(f"[perfbench] {cfg['mode']} peak RSS {peak:.0f} MB: " + ", ".join(f"{k} {v:.0f}" for k, v in sorted(peak_split.items())), file=sys.stderr)
    print(f"[perfbench] {cfg['mode']} host CPU steal {100 * steal:.1f}%", file=sys.stderr)
    if not ready or (proc.returncode != 0 and not probe):
        raise RuntimeError(f"{cfg['workload']} {cfg['mode']} process failed (exit {proc.returncode})")
    return ready[0], peak, steal


def work_dir(root: str, name: str) -> str:
    """A new scratch directory ``<root>/.perfbench_work/<name>-<pid>``.
    Directories of earlier runs whose process is gone (killed before
    they could remove their own) are removed first."""
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    work = os.path.join(base, f"{name}-{os.getpid()}")
    os.makedirs(work)
    return work


def make_inputs(workload: str, seed: int, work: str) -> dict:
    if workload == "curate_batch":
        m = gen.write_corpus(work, seed, CORPUS_BASE_DOCS)
        print(
            f"[perfbench] corpus: {m['n_docs']} docs, {len(m['exact_dup_clusters'])} exact-duplicate clusters,"
            f" {len(m['near_dup_pairs'])} near-duplicate pairs, {len(m['contaminated_ids'])} contaminated,"
            f" planted shares {m['shares']}",
            file=sys.stderr,
        )
        return m
    return {
        "rate": STREAM_RATE,
        "tick_s": STREAM_TICK_S,
        "state_partitions": STATE_PARTITIONS,
        "min_batches": MIN_STREAM_BATCHES,
    }


def end_to_end(workload: str, res: dict, setups: list[float], peak: float, names: list[dict]) -> dict:
    if workload == "curation_stream":
        lat = percentile(res["latency"], 50)
        if lat is None:
            raise RuntimeError(f"only {len(res['latency'])} latency samples; p50 needs 20")
        vals = {
            "job_s": median(res["batch_s"]),
            "first_job_s": res["first_batch_s"],
            "event_latency_s_p50": lat,
        }
    else:
        warm = [it["wall"] for it in res["iterations"][1:]]
        # a batch run's rows are all created before the spec starts and all
        # committed when the sink returns, so event latency is the job time
        vals = {
            "job_s": median(warm),
            "first_job_s": res["iterations"][0]["wall"],
            "event_latency_s_p50": median(warm),
        }
    vals["setup_s"] = median(setups)
    vals["peak_rss_mb"] = peak
    return {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in names}


def per_layer(res: dict, names: list[dict]) -> dict:
    layers = res.get("layers") or [{}]
    out = {}
    for m in names:
        vals = [lm[m["name"]] for lm in layers if m["name"] in lm]
        out[m["name"]] = {"value": float(median(vals)) if vals else 0.0, "unit": m["unit"]}
    if res.get("traced"):
        untraced = median([it["wall"] for it in res["iterations"][1:]])
        traced = median([it["wall"] for it in res["traced"]])
        out["trace.overhead_s"] = {"value": traced - untraced, "unit": "s"}
        # concurrent Spark jobs of one call overlap, so the sum can exceed 1
        out["trace.self_sum_over_wall"] = {"value": sum(res["self"][-1].values()) / res["traced"][-1]["wall"], "unit": "ratio"}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated benchmark still takes its workload processes down (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "nekton_spark")):
        print(f"perfbench: no nekton_spark package under {root}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
    work = work_dir(root, f"{a.workload}-{a.seed}")
    try:
        for d in ("tmp", "spark-local", "derby"):
            os.makedirs(os.path.join(work, d))
        inputs = make_inputs(a.workload, a.seed, work)
        nproc = str(len(os.sched_getaffinity(0)))
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": nproc,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
            # the Python workers import nekton_spark from the checkout
            "PYTHONPATH": os.pathsep.join([root, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        })
        cfg = {
            "root": root, "work": work, "workload": a.workload, "seed": a.seed,
            "seconds": a.seconds, "inputs": inputs, "heap": DRIVER_HEAP,
            "result_path": os.path.join(work, "result.json"),
            "spans_path": os.path.join(root, ".perfbench_out", f"spans-{a.workload}-{a.seed}.json"),
        }
        setups = []
        if not a.trace:
            for i in range(SETUP_PROBES):
                setups.append(run_child({**cfg, "mode": "probe"}, os.path.join(work, f"probe{i}.json"), env)[0])
        ready_s, peak, steal = run_child({**cfg, "mode": "trace" if a.trace else "measure"}, os.path.join(work, "cfg.json"), env)
        setups.append(ready_s)
        with open(cfg["result_path"]) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if a.workload == "curation_stream":
        attempted, failed = res["check"]["expected"], res["check"]["failed"]
        print(f"[perfbench] stream check: {res['check']}", file=sys.stderr)
    else:
        its = res["iterations"] + res.get("traced", [])
        attempted, failed = len(its), sum(1 for it in its if not it["ok"])
    res.setdefault("layers", [{}])
    for lm in res["layers"]:
        lm["host.steal_share"] = steal
    metrics = per_layer(res, bench["per_layer"]) if a.trace else end_to_end(a.workload, res, setups, peak, bench["end_to_end"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
