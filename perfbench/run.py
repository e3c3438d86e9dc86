"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload landing_incremental --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, one table
    python3 perfbench/run.py --compare a.json b.json     # two saved results (--out)

Runs from the root of a checkout, on ``local[nproc]`` (``SPARK_GRAFT_CPUS``
overrides nproc), builds its inputs from ``--seed``, measures for at least
``--seconds`` seconds and checks every output outside the timed sections.
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A human-readable
report, including the workload's own end-to-end figures, goes to stderr.
Everything the run writes stays under ``.perfbench/`` in the checkout; a
traced run leaves its span file there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics every workload emits (BENCHMARK.json "end_to_end")
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "pass_s": "s",
}

# set-up repetitions inside one run; setup_s uses the median input set-up
SETUP_REPS = 3


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric (BENCHMARK.json "per_layer") and its unit.
    A layer a workload does not exercise reports 0."""
    from perfbench.workloads import GATES, QUERIES

    u: dict[str, str] = {}
    for k in ("kernel", "rules", "interpolate", "arima", "threshold", "correct"):
        u[f"fused.{k}_ms_per_series"] = "ms"
    u.update({"fused.stage_task_s": "s", "fused.boundary_s": "s",
              "fused.task_p50_ms": "ms", "fused.task_max_ms": "ms"})
    u.update({"pipeline.partition_s_p50": "s", "pipeline.partition_self_s": "s",
              "pipeline.partitions_processed": "count",
              "pipeline.partitions_skipped": "count",
              "pipeline.spark_jobs_per_partition": "count"})
    u.update({"tables.tier_commit_s": "s", "tables.blob_commit_s": "s",
              "tables.commits": "count", "tables.files_written": "count",
              "tables.bytes_written": "B", "tables.metadata_s": "s"})
    u.update({"compression.bytes_per_cell": "B", "compression.encode_us_per_point": "us"})
    u.update({"checkpoint.lookup_s": "s", "checkpoint.rows_scanned": "count",
              "checkpoint.write_s": "s"})
    u.update({"streaming.batches": "count", "streaming.batch_s_p50": "s",
              "streaming.store_files_read": "count"})
    phases = ("build_s", "analysis_s", "optimization_s", "planning_s", "exec_s")
    for p in phases:
        u[f"driver.{p}"] = "s"
    for g in GATES:
        for p in phases:
            u[f"driver.{g}.{p}"] = "s"
    u.update({"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
              "spark.task_s": "s", "spark.task_p50_ms": "ms", "spark.task_p99_ms": "ms",
              "spark.task_max_ms": "ms", "spark.shuffle_write_bytes": "B",
              "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
              "spark.gc_s": "s", "spark.scheduler_delay_s": "s"})
    for q in QUERIES:
        u[f"query.{q}_s"] = "s"
    u.update({"session.start_s": "s", "datagen.gen_s": "s", "datagen.write_s": "s"})
    for layer in LAYERS:
        u[f"self.{layer}_s"] = "s"
    u.update({"trace.untraced_pass_s": "s", "trace.traced_pass_s": "s",
              "trace.overhead_s": "s", "trace.layer_sum_s": "s"})
    return u


LAYERS = ("bench", "pipeline", "tables", "compression", "checkpoint", "streaming",
          "query", "driver", "spark")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


# -- process-tree memory -----------------------------------------------------

def process_children() -> dict[int, list[int]]:
    """Parent pid -> child pids of every process visible in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants() -> list[int]:
    """Pids of every process this one started, directly or not."""
    children, out = process_children(), []
    todo = list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


class RssSampler:
    """Peak memory of this process and all its descendants (the driver JVM
    and the Python workers it forks), sampled from /proc. Each process
    counts its proportional set size, so pages the forked Python workers
    share are counted once."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak_kb = period, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _tree_kb(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, IndexError, ValueError, StopIteration):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=10)
        return self.peak_kb / 1024.0


# -- shutting down -----------------------------------------------------------

def become_subreaper() -> None:
    """Adopt every orphaned descendant. The launcher shell that starts the
    driver JVM forks a helper the JVM never reaps, and the Python workers
    outlive the JVM by a moment; as subreaper this process inherits them
    and can wait for each before it exits, instead of leaving them to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_all(timeout: float) -> bool:
    """Reap ended children until none is left (then, as subreaper, no
    descendant is left either); False if some still run after ``timeout`` s."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.05)


def reap_descendants() -> None:
    """Wait until every descendant has ended and been reaped: SIGTERM those
    still running after 30 s, then SIGKILL them."""
    import signal

    for sig, wait_s in ((signal.SIGTERM, 30), (signal.SIGKILL, 10)):
        if reap_all(wait_s):
            return
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
    reap_all(10)


def stop_spark(spark) -> None:
    """Stop the session (if any) and the JVM behind it, and wait until the
    JVM and every process it forked (the Python workers) have ended.
    ``spark.stop()`` alone leaves the JVM to exit on its own after this
    process does."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            # the gateway server exits when its stdin closes
            try:
                jvm.stdin.close()
                jvm.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                jvm.kill()
                jvm.wait()
        reap_descendants()


# -- stamp and comparison ----------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks from /proc/stat: steal is time the host gave
    this VM's vCPUs to someone else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def stamp(cores: int, probes: list[float]) -> dict:
    import numpy
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores": cores,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
        # bench.hardware_probe work-units/s at `cores` processes, taken
        # right before the measured passes: a slow box shows in the probe
        "hw_probe": probes,
    }


def compare(path_a: str, path_b: str) -> int:
    with open(path_a) as f:
        a = json.load(f)
    with open(path_b) as f:
        b = json.load(f)
    sa, sb = a["stamp"], b["stamp"]
    if (sa["nproc"], sa["cores"]) != (sb["nproc"], sb["cores"]):
        log(f"refusing to compare: cores {sa['nproc']}/{sa['cores']} vs {sb['nproc']}/{sb['cores']}")
        return 2
    if a["workload"] != b["workload"]:
        log(f"refusing to compare workloads {a['workload']} and {b['workload']}")
        return 2
    log(f"{a['workload']}: {sa['commit'][:10]} vs {sb['commit'][:10]} "
        f"(hw probe {sa['hw_probe']} vs {sb['hw_probe']})")
    for name, ma in a["metrics"].items():
        mb = b["metrics"].get(name)
        if mb is None:
            continue
        ratio = mb["value"] / ma["value"] if ma["value"] else float("nan")
        log(f"  {name:40s} {ma['value']:14.4f} {mb['value']:14.4f} {ma['unit']:8s} x{ratio:.3f}")
    return 0


# -- one run -----------------------------------------------------------------

def isolate(work: str, trace: bool) -> dict:
    """Point every temp and scratch path of the run into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the launcher starts: no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={tmp}"]))
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def run_workload(name: str, seed: int, seconds: int, trace: bool, out_path: str | None) -> int:
    from bench import hardware_probe
    from perfbench.workloads import WORKLOADS
    from pyhydroqc_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    work = os.path.join(ROOT, ".perfbench", f"{name}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    os.makedirs(work)
    spark = None
    saved_env = {k: os.environ.get(k) for k in ("TMPDIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")}
    saved_tempdir = tempfile.tempdir
    try:
        become_subreaper()
        conf = isolate(work, trace)
        rss = RssSampler().start()

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores, shuffle_partitions=max(cores, 8),
                          extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[name](spark, work, seed)
        gens, writes = [], []
        for k in range(SETUP_REPS):
            g, w = wl.make_inputs(k)
            gens.append(g)
            writes.append(w)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(g + w for g, w in zip(gens, writes)) + warm_s
        log(f"set-up: session {session_s:.2f}s, inputs gen {gens} write {writes}, "
            f"warm-up {warm_s:.2f}s")

        probes = [round(hardware_probe(cores), 3)]
        passes, errors = [], []
        cpu0 = cpu_ticks()
        t_measure = time.perf_counter()
        while True:
            try:
                passes.append(wl.run_pass(os.path.join(work, f"pass{len(passes)}")))
            except Exception as e:  # noqa: BLE001 - counted, reported, run marked failed
                errors.append(f"pass {len(passes)} raised {type(e).__name__}: {e}")
                break
            if time.perf_counter() - t_measure >= seconds:
                break
        peak_mb = rss.stop()
        cpu1 = cpu_ticks()
        steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])

        problems = list(errors)
        t0 = time.perf_counter()
        for res in passes:
            problems += wl.check(res)
        log(f"measured {len(passes)} pass(es); checks {time.perf_counter() - t0:.2f}s")
        for i, res in enumerate(passes):
            log(f"  pass {i}: " + ", ".join(f"{n} {w:.2f}" for n, w in res["calls"]))

        calls = [w for res in passes for _, w in res["calls"]]
        attempted = max(1, len(calls))
        failed = len(problems)
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
            "pass_s": statistics.median(r["pass_s"] for r in passes) if passes else float("nan"),
        }
        report = workload_report(name, passes, e2e, failed / attempted)
        layer: dict[str, float] = {}
        trace_file = None
        if trace and passes:
            layer, trace_file, t_problems = traced_pass(spark, wl, work, name, seed, passes)
            problems += t_problems
            failed = len(problems)
            layer.update({"session.start_s": session_s,
                          "datagen.gen_s": statistics.median(gens),
                          "datagen.write_s": statistics.median(writes)})
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        tempfile.tempdir = saved_tempdir
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v

    st = stamp(cores, probes)
    st["steal_share"] = round(steal, 4)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    log(f"[{name}] seed={seed} cores={cores} nproc={st['nproc']} commit={st['commit'][:10]} "
        f"spark={st['spark']} pyarrow={st['pyarrow']} numpy={st['numpy']} hw_probe={st['hw_probe']} "
        f"steal={st['steal_share']}")
    for k, (v, unit) in report.items():
        log(f"  {k:24s} {v:14.4f} {unit}")
    for res in passes:
        if "digest" in res:
            log(f"  tier digest {res['digest']}")
    if trace_file:
        log(f"  trace written to {os.path.relpath(trace_file, ROOT)}")
        print_layers(layer)
    units = per_layer_units() if trace else END_TO_END
    values = layer if trace else e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    if out_path:
        with open(out_path, "w") as f:
            json.dump({**result, "workload": name, "seed": seed, "stamp": st,
                       "report": {k: v for k, (v, _) in report.items()}}, f, indent=1)
    print(json.dumps(result), flush=True)
    return 0 if not problems else 1


def workload_report(name: str, passes: list[dict], e2e: dict, failed_share: float) -> dict:
    """The workload's own end-to-end figures, by the names users know."""
    med = lambda k: statistics.median(r[k] for r in passes) if passes else float("nan")  # noqa: E731
    calls = [w for r in passes for _, w in r["calls"]]
    rep = {"setup_s": (e2e["setup_s"], "s"), "peak_rss_mb": (e2e["peak_rss_mb"], "MB"),
           "failed_share": (failed_share, "ratio"), "pass_s": (e2e["pass_s"], "s"),
           "call_s_p50": (statistics.median(calls) if calls else float("nan"), "s")}
    if name == "landing_incremental":
        fresh = [f for r in passes for f in r["freshness_s"]]
        rep.update({
            "points_per_s": (med("points_per_s"), "points/s"),
            "stored_bytes_per_point": (med("stored_bytes_per_point"), "B/point"),
            "initial_load_s": (med("initial_load_s"), "s"),
            "freshness_s": (statistics.median(fresh) if fresh else float("nan"), "s"),
            "stream_drain_s": (med("stream_drain_s"), "s"),
        })
    else:
        from perfbench.trace import percentile
        from perfbench.workloads import GATES

        # highest percentile with at least ten samples beyond it
        n = len(calls)
        q = max((p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100.0 >= 10), default=None)
        rep.update({
            "mix_pass_s": (e2e["pass_s"], "s"),
            "query_s_p50": rep["call_s_p50"],
            "query_s_tail": (percentile(calls, q) if q else max(calls, default=float("nan")), "s"),
            "query_s_tail_percentile": (float(q or 100), "pct"),
            "query_s_samples": (float(n), "count"),
        })
        for g in GATES:
            rep[f"{g}_s"] = (statistics.median(w for r in passes for q_, w in r["calls"] if q_ == g), "s")
    return rep


def traced_pass(spark, wl, work: str, name: str, seed: int, passes: list[dict]):
    """One extra pass with the public functions wrapped and the event log
    folded; returns (per-layer metrics, span file, check problems)."""
    from perfbench import trace as tr
    from perfbench.workloads import QUERIES

    tracer = tr.Tracer(spark)
    wl.instrument(tracer)
    root = tracer.open("pass", "bench")
    try:
        res = wl.run_pass(os.path.join(work, "traced"), tracer)
    finally:
        tracer.close(root)
        tracer.unwrap_all()
    # the JVM keeps warming up from pass to pass, so the first (measured)
    # pass is no reference: compare with an untraced pass right after the
    # traced one, which is at least as warm (overhead errs high)
    after = wl.run_pass(os.path.join(work, "untraced_after"))
    problems = wl.check(res)
    tr.drain_listener_bus(spark)
    span = tracer.spans[root]
    folded = tr.fold_event_log(tr.read_event_log(os.path.join(work, "eventlog")),
                               span["start"], span["end"])
    tracer.add_job_spans(folded["jobs"], root)
    m = wl.layer_metrics(tracer, root, res, folded)
    by_layer = tracer.layer_self(root)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = by_layer.get(layer, 0.0)
    untraced = after["pass_s"]
    traced_wall = span["end"] - span["start"]
    m["trace.untraced_pass_s"] = untraced
    m["trace.traced_pass_s"] = res["pass_s"]
    m["trace.overhead_s"] = res["pass_s"] - untraced
    m["trace.layer_sum_s"] = sum(by_layer.values())
    for q in QUERIES:
        walls = [w for r in passes for name_, w in r["calls"] if name_ == q]
        m[f"query.{q}_s"] = statistics.median(walls) if walls else 0.0
    path = os.path.join(ROOT, ".perfbench", f"trace-{name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": name, "seed": seed, "pass_wall_s": traced_wall,
                   "spans": tracer.spans, "stages": list(folded["stages"].values()),
                   "jobs": folded["jobs"], "layer_self_s": by_layer,
                   "metrics": m, "phases": res.get("phases", {}),
                   "unmeasured": UNMEASURED.get(name, {})}, f, indent=1, default=str)
    return m, path, problems


UNMEASURED = {
    "landing_incremental": {
        "driver.analysis_s/optimization_s/planning_s":
            "write commands build their own QueryExecution inside DataFrameWriter; "
            "its planning tracker is not reachable from Python without a JVM listener",
    },
}


def print_layers(m: dict) -> None:
    total = m.get("trace.layer_sum_s", 0.0)
    log(f"  per-layer self time (traced pass {m.get('trace.traced_pass_s', 0):.3f} s, "
        f"untraced {m.get('trace.untraced_pass_s', 0):.3f} s, "
        f"overhead {m.get('trace.overhead_s', 0):+.3f} s)")
    for layer in LAYERS:
        v = m.get(f"self.{layer}_s", 0.0)
        log(f"    {layer:12s} {v:10.3f} s  {100 * v / total if total else 0:5.1f}%")
    for k in sorted(m):
        if not k.startswith(("self.", "trace.")):
            log(f"    {k:44s} {m[k]:16.4f}")


# -- entry -------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also save the full result, with its stamp, here")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)

    # the benchmark measures the program in the checkout it sits in
    if not (os.path.isdir(os.path.join(ROOT, "pyhydroqc_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log(f"no pyhydroqc_spark checkout at {ROOT}: nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            rc = max(rc, subprocess.run(cmd, cwd=ROOT).returncode)
        return rc
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or 'all'")
        return 2
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.out)


if __name__ == "__main__":
    sys.exit(main())
