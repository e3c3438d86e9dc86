"""The benchmark's workloads.

Both are closed loops with one client: each call starts when the previous
one has returned, the way a scheduler that waits for each job drives the
engine. A *pass* is one fixed script of public-API calls; ``pass_s`` is the
sum of their walls and ``calls`` keeps every call's wall.

* ``landing_incremental`` -- the commit path. Initial ``fused_cells`` load
  of a token table (killed with ``fail_after`` and resumed), a landing
  that appends new files to one partition followed by an incremental
  ``run_pipeline``, a ``run_streaming_rollup`` AvailableNow drain of the
  same token files into all three tier stores, and a ``retention_sweep``.
* ``query_mix`` -- the read path. The three wide driver gates and one
  narrow query, each call rebuilding its DataFrame, on generated
  events/documents tables. No kernel, no commits.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

from . import checks, inputs
from .trace import median, percentile, tracker_phases

# The query mix: the three driver gates the ROADMAP names and one narrow
# window query. The other queries of ``queries()`` are left out to
# keep a run inside the benchmark's time budget (see README.md).
QUERIES = ["range_counts", "rollup_tiers", "simhash_pairs", "lang_stats"]
GATES = ["rollup_tiers", "simhash_pairs", "lang_stats"]


class Landing:
    name = "landing_incremental"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.shape = inputs.LANDING_SHAPE
        self.problems: list[str] = []

    # -- set-up --------------------------------------------------------------

    def make_inputs(self, k: int) -> tuple[float, float]:
        """Generate and write the initial token table; returns (gen_s, write_s)."""
        from pyhydroqc_spark.tables import SnapshotTable

        t0 = time.perf_counter()
        self.initial = inputs.landing_initial(self.seed, self.shape)
        self.batches = inputs.landing_batches(self.seed, self.shape)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.pristine = os.path.join(self.work, f"input{k}")
        inputs.write_token_partitions(self.spark, SnapshotTable(self.pristine), self.initial)
        self.batch_dfs = [
            self.spark.createDataFrame(b, schema=inputs.TOKEN_SCHEMA).coalesce(1)
            for b in self.batches
        ]
        return gen_s, time.perf_counter() - t0

    def warm_up(self) -> None:
        """No warm-up beyond the input writes: a landing job started by a
        scheduler pays JVM warm-up on every run, so the measured pass does
        too."""

    # -- one pass ------------------------------------------------------------

    def run_pass(self, root: str, tracer=None) -> dict:
        from pyhydroqc_spark.pipeline import retention_sweep, run_pipeline
        from pyhydroqc_spark.streaming import run_streaming_rollup
        from pyhydroqc_spark.tables import SnapshotTable

        spark = self.spark
        os.makedirs(root, exist_ok=True)
        # a fresh input table sharing the pristine, immutable data files
        shutil.copytree(os.path.join(self.pristine, "_snapshots"),
                        os.path.join(root, "input", "_snapshots"))
        inp = SnapshotTable(os.path.join(root, "input"))
        out = os.path.join(root, "out")
        stream_in = os.path.join(root, "stream_in")
        stream_out = os.path.join(root, "stream_out")
        calls: list[tuple[str, float]] = []

        def call(name, fn, *a, expect=None, **kw):
            group = f"{name}#{len(calls)}"
            if tracer is not None:
                tracer.push_group(group)
                sid = tracer.open(name, "bench")
            t0 = time.perf_counter()
            try:
                result = fn(*a, **kw)
            except Exception as e:  # noqa: BLE001 - the expected kill
                if expect is None or not isinstance(e, expect):
                    raise
                result = e
            finally:
                wall = time.perf_counter() - t0
                calls.append((name, wall))
                if tracer is not None:
                    tracer.close(sid)
                    tracer.pop_group()
            return result, wall

        n_parts = len(inp.partitions())
        n_initial = int(self.initial["n_tok"].sum())
        n_points = int(self._final_tokens()["n_tok"].sum())
        killed, t_kill = call(
            "run_pipeline.initial_killed", run_pipeline, spark, inp, out,
            mode="fused_cells", fail_after=1, run_id="initial", expect=RuntimeError,
        )
        if not isinstance(killed, RuntimeError) or "simulated failure" not in str(killed):
            self.problems.append(f"initial load was not killed: {killed!r}")
        resumed, t_resume = call(
            "run_pipeline.initial_resume", run_pipeline, spark, inp, out,
            mode="fused_cells", run_id="resume",
        )
        if len(resumed.partitions_processed) != n_parts - 1:
            self.problems.append(
                f"resume processed {resumed.partitions_processed}, expected {n_parts - 1} partitions"
            )

        freshness = []
        for j, df in enumerate(self.batch_dfs):
            src = self.batches[j]["source"].iloc[0]
            sid, t_app = call("table.landing_append", inp.append, df, partition=src)
            committed = time.time()
            res, t_run = call(
                "run_pipeline.landing", run_pipeline, spark, inp, out,
                mode="fused_cells", run_id=f"landing{j}",
            )
            if res.partitions_processed != [src]:
                self.problems.append(
                    f"landing {j} processed {res.partitions_processed}, expected [{src}]"
                )
            done = [r["updated_at"] for r in _ckpt_rows(out) if r["snapshot_id"] == sid]
            freshness.append(max(done) - committed if done else float("nan"))

        final = inp.current_snapshot_id()

        # the stream drains the same token files into all three tier stores
        os.makedirs(stream_in)
        _copy_flat(inp.files(final), stream_in, "t")
        _, t_drain = call("run_streaming_rollup", run_streaming_rollup, spark,
                          stream_in, stream_out, tier_seconds=checks.TIERS)

        stored = _stored_bytes(out)
        call("retention_sweep", retention_sweep, out)

        return {
            "out": out,
            "stream_in": stream_in, "stream_out": stream_out,
            "calls": calls,
            "pass_s": sum(w for _, w in calls),
            "points_per_s": n_initial / (t_kill + t_resume),
            "stored_bytes_per_point": stored / n_points,
            "initial_load_s": t_kill + t_resume,
            "freshness_s": freshness,
            "stream_drain_s": t_drain,
        }

    def _final_tokens(self) -> pd.DataFrame:
        return pd.concat([self.initial] + self.batches, ignore_index=True)

    # -- checks --------------------------------------------------------------

    def check(self, res: dict) -> list[str]:
        problems, self.problems = self.problems, []
        cells = checks.read_tier_tables(res["out"])
        problems += checks.compare_cells(cells, checks.oracle_cells(self._final_tokens()),
                                         "killed, resumed and incremental tiers vs from-scratch oracle")
        problems += checks.monoid_problems(cells)
        problems += checks.stream_problems(self.spark, res["stream_in"], res["stream_out"])
        res["digest"] = checks.digest(cells)
        want = _recorded_digest(self.name, self.seed)
        if want is not None and want != res["digest"]:
            problems.append(f"tier digest {res['digest']} != recorded {want}")
        if any(np.isnan(res["freshness_s"])):
            problems.append("a landing left no DONE checkpoint row")
        return problems

    # -- traced run ----------------------------------------------------------

    def instrument(self, tracer) -> None:
        from pyhydroqc_spark import compression, pipeline, streaming
        from pyhydroqc_spark.checkpoint import CheckpointLog
        from pyhydroqc_spark.tables import SnapshotTable

        def part_call(args, kwargs):
            part = args[2]
            return {"part": part, "_group": f"{tracer.group()}/part:{part}"}

        def commit_files(args, result):
            sid = result[0] if isinstance(result, tuple) else result
            new = args[0].added_files(sid - 1, sid)  # commits are sequential
            return {"files": len(new), "bytes": sum(os.path.getsize(f) for f in new)}

        tracer.wrap(pipeline, "run_pipeline", "pipeline.run_pipeline", "pipeline",
                    on_result=lambda a, r: {"processed": len(r.partitions_processed),
                                            "skipped": len(r.partitions_skipped)})
        # run_pipeline's per-partition step is module-internal; wrapping it
        # gives each partition its own span and job group
        tracer.wrap(pipeline, "_process_partition", "pipeline.partition", "pipeline",
                    on_call=part_call)
        tracer.wrap(pipeline, "retention_sweep", "pipeline.retention_sweep", "pipeline")
        tracer.wrap(compression, "encode_tier_df", "compression.encode_tier_df", "compression")
        for m in ("append", "overwrite_partition", "overwrite_partition_counted",
                  "overwrite_partitions"):
            tracer.wrap(SnapshotTable, m, f"tables.{m}", "tables", on_result=commit_files)
        tracer.wrap(SnapshotTable, "drop_partitions", "tables.drop_partitions", "tables")
        tracer.wrap(SnapshotTable, "expire_snapshots", "tables.expire_snapshots", "tables")
        tracer.wrap(SnapshotTable, "files_for_partitions", "tables.files_for_partitions",
                    "tables", on_result=lambda a, r: {"files": len(r)})
        tracer.wrap(CheckpointLog, "last_input_snapshot", "checkpoint.last_input_snapshot",
                    "checkpoint")
        tracer.wrap(CheckpointLog, "write", "checkpoint.write", "checkpoint")
        # the row scan behind every lookup (module-internal), for its count
        tracer.wrap(CheckpointLog, "_rows", "checkpoint.scan", "checkpoint",
                    on_result=lambda a, r: {"rows": len(r)})
        tracer.wrap(streaming, "run_streaming_rollup", "streaming.run_streaming_rollup",
                    "streaming")
        tracer.wrap(streaming, "merge_batch_tiers", "streaming.merge_batch_tiers", "streaming")

    def layer_metrics(self, tracer, root: int, res: dict, folded: dict) -> dict:
        from .trace import spark_metrics

        sp = lambda n: tracer.named(n, root)  # noqa: E731
        dur = lambda ss: sum(s["end"] - s["start"] for s in ss)  # noqa: E731
        self_t = tracer.self_times()
        parts = sp("pipeline.partition")
        m: dict[str, float] = {}
        m.update(kernel_microbench(self._final_tokens()))

        # kernel stages: a partition's stage that reads the doc_id exchange
        # into the fused kernel's MapInPandas (later tier writes read the
        # cached cells without a shuffle; blob encoding runs in
        # FlatMapGroupsInPandas)
        kstages = [
            s for s in folded["stages"].values()
            if "/part:" in s["group"] and "MapInPandas" in s["scopes"]
            and "FlatMapGroupsInPandas" not in s["scopes"] and s["shuffle_read"] > 0
        ]
        ktasks = [t for t in folded["tasks"] if t["stage"] in {s["stage"] for s in kstages}]
        # series a partition held when it was processed: the landing run
        # sees the landed series, the initial load does not
        initial = self.initial.groupby("source").size().to_dict()
        final = self._final_tokens().groupby("source").size().to_dict()
        n_series = sum(
            (final if tracer.bench_call(s) == "run_pipeline.landing" else initial)
            .get(s["attrs"]["part"], 0)
            for s in parts
        )
        stage_task_s = sum(t["run_ms"] for t in ktasks) / 1000.0
        m["fused.stage_task_s"] = stage_task_s
        m["fused.boundary_s"] = stage_task_s - n_series * m["fused.kernel_ms_per_series"] / 1000.0
        m["fused.task_p50_ms"] = percentile([t["run_ms"] for t in ktasks], 50)
        m["fused.task_max_ms"] = max([t["run_ms"] for t in ktasks], default=0.0)

        runs = sp("pipeline.run_pipeline")
        part_jobs = [j for j in folded["jobs"] if "/part:" in j["group"]]
        m["pipeline.partition_s_p50"] = median([s["end"] - s["start"] for s in parts])
        m["pipeline.partition_self_s"] = sum(self_t[s["id"]] for s in parts)
        m["pipeline.partitions_processed"] = len(parts)
        m["pipeline.partitions_skipped"] = sum(s["attrs"].get("skipped", 0) for s in runs)
        m["pipeline.spark_jobs_per_partition"] = len(part_jobs) / max(1, len(parts))

        commits = [
            s for n in ("tables.append", "tables.overwrite_partition",
                        "tables.overwrite_partition_counted", "tables.overwrite_partitions",
                        "tables.drop_partitions")
            for s in sp(n)
        ]
        blob = [s for s in sp("tables.overwrite_partition")
                if tracer.has_ancestor_layer(s, "pipeline")]
        m["tables.tier_commit_s"] = dur(sp("tables.overwrite_partition_counted"))
        m["tables.blob_commit_s"] = dur(blob)
        m["tables.commits"] = len(commits)
        m["tables.files_written"] = sum(s["attrs"].get("files", 0) for s in commits)
        m["tables.bytes_written"] = sum(s["attrs"].get("bytes", 0) for s in commits)
        m["tables.metadata_s"] = sum(self_t[s["id"]] for s in commits)

        m["compression.bytes_per_cell"] = _blob_bytes_per_cell(res["out"])
        m["compression.encode_us_per_point"] = encode_microbench(self._final_tokens())

        m["checkpoint.lookup_s"] = dur(sp("checkpoint.last_input_snapshot"))
        m["checkpoint.rows_scanned"] = sum(s["attrs"].get("rows", 0) for s in sp("checkpoint.scan"))
        m["checkpoint.write_s"] = dur(sp("checkpoint.write"))

        batches = sp("streaming.merge_batch_tiers")
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s_p50"] = median([s["end"] - s["start"] for s in batches])
        m["streaming.store_files_read"] = sum(
            s["attrs"].get("files", 0) for s in sp("tables.files_for_partitions")
            if tracer.has_ancestor_layer(s, "streaming")
        )

        job_s = sum(j["end"] - j["start"] for j in folded["jobs"])
        program = [s for s in tracer.spans if s["layer"] not in ("bench", "spark")
                   and tracer.in_subtree(s["id"], root) and s["id"] in self_t]
        m["driver.build_s"] = sum(self_t[s["id"]] for s in program)
        # write commands build their QueryExecution inside DataFrameWriter,
        # out of reach from Python: no planning-phase split on this workload
        m["driver.analysis_s"] = m["driver.optimization_s"] = m["driver.planning_s"] = 0.0
        m["driver.exec_s"] = job_s
        m.update(spark_metrics(folded["tasks"], len(folded["jobs"]), len(folded["stages"])))
        return m


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.problems: list[str] = []

    def make_inputs(self, k: int) -> tuple[float, float]:
        t0 = time.perf_counter()
        tables = inputs.query_tables(self.seed, inputs.QUERY_SHAPE)
        warm = inputs.query_tables(self.seed, inputs.QUERY_WARM_SHAPE)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.sf_dir = os.path.join(self.work, f"tables{k}")
        self.warm_dir = os.path.join(self.work, f"warm{k}")
        inputs.write_query_tables(tables, self.sf_dir)
        inputs.write_query_tables(warm, self.warm_dir)
        return gen_s, time.perf_counter() - t0

    def warm_up(self) -> None:
        """The narrow query on the small tables: the session's first Spark
        jobs, Python worker start-up and the shared event-series plan stay
        out of the measured pass. Each gate's own planning and code paths
        are not warmed: the measured pass is each query's first call in
        the session, as a scheduled job that starts its own session sees it."""
        import __spark_entry__ as entry

        entry.queries()["range_counts"](self.spark, self.warm_dir).toPandas()

    def run_pass(self, root: str, tracer=None) -> dict:
        """One call per query; ``root`` is unused (the queries keep their
        own temp stores under TMPDIR)."""
        import __spark_entry__ as entry

        qs = entry.queries()
        calls, results, phases = [], {}, {}
        for name in QUERIES:
            if tracer is not None:
                tracer.push_group(f"query:{name}")
                sid = tracer.open(f"query.{name}", "query")
                b = tracer.open("driver.build", "driver")
            t0 = time.perf_counter()
            df = qs[name](self.spark, self.sf_dir)
            t_build = time.perf_counter() - t0
            if tracer is not None:
                tracer.close(b)
                a = tracer.open("driver.action", "driver")
            t1 = time.perf_counter()
            results[name] = df.toPandas()
            t_action = time.perf_counter() - t1
            if tracer is not None:
                tracer.close(a)
                tracer.close(sid)
                tracer.pop_group()
                phases[name] = {"build": t_build, "action": t_action, **tracker_phases(df)}
            calls.append((name, t_build + t_action))
        return {"calls": calls, "results": results, "phases": phases,
                "pass_s": sum(w for _, w in calls)}

    def check(self, res: dict) -> list[str]:
        import duckdb

        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        problems, self.problems = self.problems, []
        con = duckdb.connect()
        try:
            for t in ("events", "documents"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name, mine in res["results"].items():
                problems += checks.query_problems(name, mine, con.execute(oracles[name]).df())
        finally:
            con.close()
        res.pop("results")
        return problems

    def instrument(self, tracer) -> None:
        pass

    def layer_metrics(self, tracer, root: int, res: dict, folded: dict) -> dict:
        from .trace import spark_metrics

        m: dict[str, float] = {}
        ph = res["phases"]
        tot = lambda k: sum(p[k] for p in ph.values())  # noqa: E731
        m["driver.build_s"] = tot("build")
        m["driver.analysis_s"] = tot("analysis")
        m["driver.optimization_s"] = tot("optimization")
        m["driver.planning_s"] = tot("planning")
        m["driver.exec_s"] = tot("action") - tot("optimization") - tot("planning")
        for g in GATES:
            p = ph[g]
            m[f"driver.{g}.build_s"] = p["build"]
            m[f"driver.{g}.analysis_s"] = p["analysis"]
            m[f"driver.{g}.optimization_s"] = p["optimization"]
            m[f"driver.{g}.planning_s"] = p["planning"]
            m[f"driver.{g}.exec_s"] = p["action"] - p["optimization"] - p["planning"]
        m.update(spark_metrics(folded["tasks"], len(folded["jobs"]), len(folded["stages"])))
        return m


WORKLOADS = {Landing.name: Landing, QueryMix.name: QueryMix}


# -- helpers -----------------------------------------------------------------

def _ckpt_rows(out_root: str) -> list[dict]:
    rows = []
    for p in glob.glob(os.path.join(out_root, "_checkpoints", "*.jsonl")):
        with open(p) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def _copy_flat(files: list[str], dest: str, tag: str) -> None:
    for i, f in enumerate(sorted(files)):
        shutil.copyfile(f, os.path.join(dest, f"{tag}{i:04d}.parquet"))


def _stored_bytes(out_root: str) -> int:
    """Bytes of every committed tier, blob and checkpoint file."""
    total = 0
    for pattern in ("*/data/*/*.parquet", "_checkpoints/*.jsonl", "*/_snapshots/*.json"):
        total += sum(os.path.getsize(p) for p in glob.glob(os.path.join(out_root, pattern)))
    return total


def _blob_bytes_per_cell(out_root: str) -> float:
    import pyarrow.parquet as pq

    from pyhydroqc_spark.tables import SnapshotTable

    blob = cells = 0
    for t in checks.TIERS:
        blob += sum(os.path.getsize(f) for f in SnapshotTable(os.path.join(out_root, f"comp_tier_{t}s")).files())
        cells += sum(pq.ParquetFile(f).metadata.num_rows
                     for f in SnapshotTable(os.path.join(out_root, f"rollup_{t}s")).files())
    return blob / max(1, cells)


def _sample_series(tokens: pd.DataFrame, k: int = 6):
    from pyhydroqc_spark.datagen import CADENCE_S, T0, VAL_HI, VAL_LO
    from pyhydroqc_spark.quantize import dequantize

    t0 = int(T0.timestamp())
    for toks in tokens["tokens"].iloc[:k]:
        tok = np.asarray(toks)
        epochs = t0 + np.arange(len(tok), dtype=np.int64) * CADENCE_S
        yield tok, dequantize(tok, VAL_LO, VAL_HI), epochs


def kernel_microbench(tokens: pd.DataFrame) -> dict[str, float]:
    """Per-series ms of the fused kernel and of each public step it runs,
    on the workload's own series (driver process, one core)."""
    from pyhydroqc_spark.operators import fused
    from pyhydroqc_spark.params import DEFAULT_PARAMS as p

    acc = {k: 0.0 for k in ("kernel", "rules", "interpolate", "arima", "threshold", "correct")}
    n = 0
    series = list(_sample_series(tokens))
    _, x, epochs = series[0]
    fused.fused_series_kernel(x, pd.DatetimeIndex(pd.to_datetime(epochs, unit="s")), p, (1, 1, 0))
    for _, x, epochs in series:
        ts = pd.DatetimeIndex(pd.to_datetime(epochs, unit="s"))
        t = time.perf_counter()
        fused.fused_series_kernel(x, ts, p, (1, 1, 0))
        acc["kernel"] += time.perf_counter() - t
        t = time.perf_counter()
        anom = fused.range_flags_np(x, p.max_range, p.min_range)
        anom, _ = fused.persistence_np(x, anom, p.persist)
        acc["rules"] += time.perf_counter() - t
        t = time.perf_counter()
        observed = fused.interpolate_np(x, anom)
        acc["interpolate"] += time.perf_counter() - t
        filled = np.where(np.isnan(observed), np.nanmean(observed), observed)
        t = time.perf_counter()
        resid, _, _ = fused.fit_arima(filled, *p.pdq)
        acc["arima"] += time.perf_counter() - t
        t = time.perf_counter()
        low, high = fused.dynamic_threshold_np(resid, p.window_sz, p.alpha, p.threshold_min)
        with np.errstate(invalid="ignore"):
            events = fused.widen_events_np((resid < low) | (resid > high) | anom, p.widen)
        acc["threshold"] += time.perf_counter() - t
        t = time.perf_counter()
        fused.correct_series(observed, events, ts, order=(1, 1, 0))
        acc["correct"] += time.perf_counter() - t
        n += 1
    return {f"fused.{k}_ms_per_series": v * 1000.0 / max(1, n) for k, v in acc.items()}


def encode_microbench(tokens: pd.DataFrame) -> float:
    """µs per point of ``encode_series_blob`` on the workload's series."""
    from pyhydroqc_spark.compression import encode_series_blob

    total, pts = 0.0, 0
    for tok, _, epochs in _sample_series(tokens):
        t = time.perf_counter()
        encode_series_blob(tok.astype(np.int32), epochs)
        total += time.perf_counter() - t
        pts += len(tok)
    return total * 1e6 / max(1, pts)


def _recorded_digest(workload: str, seed: int):
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f).get(workload, {}).get(str(seed))
