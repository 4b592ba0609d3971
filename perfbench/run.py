#!/usr/bin/env python3
"""Benchmark of the transcript quality package, driven through its public API.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs come from
``testdata.generate_transcripts(N_CONVS, seed)``; one Spark session on
``local[nproc]`` runs a closed loop of one workload's operations for
``--seconds`` seconds after set-up, checks every operation's output and
prints a table of metrics followed, as the last line of stdout, by one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).

Everything the run writes stays under ``.perfbench/`` in the checkout:
cached inputs in ``cache/``, traces in ``traces/``, and a per-run work
directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "data_quality_automated_evaluator_spark"
STATE = os.path.join(ROOT, ".perfbench")

N_CONVS = 1000
# A run is one short-lived JVM. With compilation stopped at C1 the optimizing
# compiler does not compete with Spark for the few cores during the run;
# operations measured about 10% faster than with the default tiered C2.
JVM_JIT = "-XX:TieredStopAtLevel=1"
# a run stops starting operations once another one could end past this many
# seconds, or 60 s past the requested run length when that is later
RUN_BUDGET_S = 160.0
# an untraced run measures at least this many operations: the median of
# three ignores one operation slowed by a burst of load on the shared host
MIN_OPS = 3
# ... unless the host is slow: once it holds two, a run starts no operation
# that could end past this many seconds (or 60 s past the requested run
# length when that is later), so that a full round of runs keeps to its
# time limit
RUN_CAP_S = 85.0

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.cold_extra_s": "s",
    "session.scaling_eff": "ratio",
    "functions.langid_us_per_turn": "us",
    "functions.perplexity_us_per_turn": "us",
    "functions.scrub_us_per_turn": "us",
    "functions.kernel_share": "ratio",
    "pipeline.compute_s": "s",
    "sinks.overhead_s": "s",
    "sinks.spark_jobs": "count",
    "sinks.spark_stages": "count",
    "sinks.spark_tasks": "count",
    "sinks.tasks_failed": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.metadata_bytes": "bytes",
    "sinks.turns_processed_per_new_turn": "ratio",
    "operators.preprocess_s": "s",
    "operators.evaluate_s": "s",
    "report.render_s": "s",
    "cpu.util": "ratio",
    "cpu.op_cpu_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_ratio": "ratio",
    "rows_per_s": "turns/s",
    "peak_rss_mb": "MB",
    "op_s_tail_pct": "pct",
    "ops_measured": "count",
    "ops_failed_ratio": "ratio",
    "out_bytes_per_in_byte": "ratio",
    "label_disagreement_ratio": "ratio",
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """A quarter of host RAM, at most 2 GiB: well below what the host has."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return f"{min(2048, total_kb // 1024 // 4)}m"


def _start_spark(cores: int, nproc: int, work: str):
    from data_quality_automated_evaluator_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": _driver_memory(),
            "spark.driver.extraJavaOptions": JVM_JIT,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def _quantile(values: list[float], pct: int) -> float:
    """Percentile with linear interpolation (the median at ``pct=50``)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def _tail_pct(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it; the
    median when a run holds fewer than twenty operations."""
    return max(50, int(100 * (n - 10) // n)) if n else 50


class Runner:
    def __init__(self, args, work: str) -> None:
        self.args = args
        self.work = work
        self.nproc = _nproc()
        self.spark = None
        self.wl = None
        self.tracer = None
        self.t_begin = time.perf_counter()

    # -- one operation -----------------------------------------------------
    def run_op(self, i: int, traced: bool, count: bool) -> dict:
        from perfbench import procstat, workloads

        wl, sc = self.wl, self.spark.sparkContext
        wl.before_op(i)
        root = wl.sink_root()
        before = workloads.tree_files(root) if root else None
        group = f"op-{i}-{time.monotonic_ns()}"
        sc.setJobGroup(group, group)
        if traced:
            self.tracer.op_id = group
            wl.trace(self.tracer)
        errs: list[str] = []
        result = None
        cpu0 = procstat.tree_usage()[0]
        t0 = time.perf_counter()
        try:
            result = wl.op(i)
        except Exception as e:  # an operation that raises counts as failed
            errs.append(f"raised {type(e).__name__}: {e}")
        finally:
            wall = time.perf_counter() - t0
            cpu = procstat.tree_usage()[0] - cpu0
            if traced:
                self.tracer.unpatch_all()
        sc.setJobGroup(f"check-{group}", "output check")
        rec = {"i": i, "wall": wall, "traced": traced, "group": group,
               "cpu_s": cpu, "cpu_util": cpu / (wall * self.nproc),
               "new_turns": wl.new_turns(i), "in_bytes": wl.in_bytes(i)}
        if root:
            rec.update(workloads.written_since(before, root))
        if count:
            rec.update(spark_counters(self.spark, group))
        if not errs:
            try:
                errs = wl.check(i, result)
            except Exception as e:
                errs = [f"check raised {type(e).__name__}: {e}"]
        rec["errors"] = errs
        for e in errs:
            print(f"op {i} FAILED: {e}", file=sys.stderr)
        return rec

    def loop(self, seconds: float, trace: bool) -> list[dict]:
        """Closed loop of operations for ``seconds``, and at least
        ``MIN_OPS`` of them while the run keeps within ``RUN_CAP_S``.
        Traced, operations alternate untraced, traced, traced, untraced (at
        least four within the cap), so warm-up drift does not bias the
        tracing-overhead comparison."""
        ops: list[dict] = []
        t0 = time.perf_counter()
        budget = max(RUN_BUDGET_S, seconds + 60)
        soft = max(RUN_CAP_S, seconds + 60)
        i = 0
        cap = self.wl.max_ops()
        while cap is None or i < cap:
            traced = trace and len(ops) % 4 in (1, 2)
            ops.append(self.run_op(i, traced, trace))
            i += 1
            done = (time.perf_counter() - t0 >= seconds
                    and len(ops) >= (4 if trace else MIN_OPS))
            next_end = (time.perf_counter() - self.t_begin
                        + statistics.median(o["wall"] for o in ops))
            late = next_end > budget or (len(ops) >= 2 and next_end > soft)
            if done or late:
                break
        return ops

    # -- the run -----------------------------------------------------------
    def run(self) -> dict:
        from perfbench import procstat
        from perfbench.inputs import load_inputs
        from perfbench.workloads import WORKLOADS

        args = self.args
        inputs = load_inputs(os.path.join(STATE, "cache"), N_CONVS, args.seed)

        t0 = time.perf_counter()
        self.spark = _start_spark(self.nproc, self.nproc, self.work)
        start_s = time.perf_counter() - t0
        self.wl = WORKLOADS[args.workload](self.spark, inputs, self.work)
        t0 = time.perf_counter()
        self.wl.warm_up()
        cold_s = time.perf_counter() - t0
        setup_s = start_s + cold_s
        self.wl.prepare()  # sink-state restore: outside set-up time

        if args.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer()
        rss = procstat.PeakRss().start()
        ops = self.loop(args.seconds, bool(args.trace))
        peak_rss = rss.stop()
        self.wl.finish()

        walls = [o["wall"] for o in ops if not o["traced"]]
        tail_pct = _tail_pct(len(walls))
        e2e = {
            "setup_s": setup_s,
            "op_s_p50": statistics.median(walls),
            "op_s_tail": _quantile(walls, tail_pct),
        }
        extra = {
            "rows_per_s": sum(o["new_turns"] for o in ops if not o["traced"]) / sum(walls),
            "peak_rss_mb": peak_rss / 2**20,
            "cpu.op_cpu_s": statistics.median(o["cpu_s"] for o in ops if not o["traced"]),
            "op_s_tail_pct": tail_pct,
            "ops_measured": len(walls),
            "out_bytes_per_in_byte": _median_ratio(ops, "bytes_written", "in_bytes"),
            "label_disagreement_ratio": (self.wl.disagree[0] / self.wl.disagree[1]
                                         if self.wl.disagree[1] else 0.0),
        }
        layers: dict = {}
        if args.trace:
            layers, one_core = self.per_layer(inputs, ops, start_s, cold_s, e2e, extra)
            ops = [*ops, one_core]
        failed = sum(1 for o in ops if o["errors"])
        extra["ops_failed_ratio"] = failed / len(ops)
        if args.trace:
            layers.update(extra)
            self.write_trace(ops, layers)
        return {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                "e2e": e2e, "extra": extra, "layers": layers, "walls": walls}

    # -- traced run: per-layer metrics ---------------------------------------
    def per_layer(self, inputs, ops, start_s, cold_s, e2e, extra) -> tuple[dict, dict]:
        """Per-layer metrics (without ``extra``) and the one-core operation."""
        from perfbench import kernels

        wl, tracer = self.wl, self.tracer
        traced = [o for o in ops if o["traced"]]
        plain = [o for o in ops if not o["traced"]]
        t_ids = {o["group"] for o in traced}
        p50 = e2e["op_s_p50"]

        def med(key):
            vals = [o[key] for o in ops if key in o]
            return float(statistics.median(vals)) if vals else 0.0

        per_turn = kernels.kernel_us_per_turn(inputs.table()["text"])
        compute_s = 0.0
        pin = wl.pipeline_input(0)
        if pin is not None:
            compute_s = kernels.pipeline_noop_seconds(self.spark, pin)
        kernel_core_s = sum(per_turn.values()) * 1e-6 * med("new_turns")
        totals = tracer.totals(t_ids)
        selfs = tracer.self_times(t_ids)
        n_t = max(1, len(traced))

        # scaling: the first operation again, on a one-core session of the
        # same JVM (compiled code stays warm; Python workers start afresh)
        self.spark.stop()
        self.spark = _start_spark(1, self.nproc, self.work)
        wl.rebind(self.spark)
        wl.reset()
        one = self.run_op(0, False, False)
        rate_1 = one["new_turns"] / one["wall"]

        layers = {
            "session.start_s": start_s,
            "session.cold_extra_s": cold_s,
            "session.scaling_eff": extra["rows_per_s"] / (self.nproc * rate_1),
            "functions.langid_us_per_turn": per_turn["langid"],
            "functions.perplexity_us_per_turn": per_turn["perplexity"],
            "functions.scrub_us_per_turn": per_turn["scrub"],
            "functions.kernel_share": (kernel_core_s / (compute_s * self.nproc)
                                       if compute_s else 0.0),
            "pipeline.compute_s": compute_s,
            "sinks.overhead_s": p50 - compute_s if wl.sink_root() else 0.0,
            "sinks.spark_jobs": med("jobs"),
            "sinks.spark_stages": med("stages"),
            "sinks.spark_tasks": med("tasks"),
            "sinks.tasks_failed": med("tasks_failed"),
            "sinks.files_written": med("files_written"),
            "sinks.bytes_written": med("bytes_written"),
            "sinks.metadata_bytes": med("metadata_bytes"),
            "sinks.turns_processed_per_new_turn": _median_ratio(ops, "input_records", "new_turns"),
            "operators.preprocess_s": (totals.get("operators.make_preprocessing", 0.0)
                                       + _direct_child_total(tracer, t_ids, wl.root_span,
                                                             "spark.toPandas")) / n_t,
            "operators.evaluate_s": totals.get("operators.evaluate_data", 0.0) / n_t,
            "report.render_s": selfs.get("report.make_report", 0.0) / n_t,
            "cpu.util": med("cpu_util"),
            "trace.coverage": tracer.coverage(wl.root_span, t_ids),
            "trace.overhead_ratio": (statistics.median(o["wall"] for o in traced)
                                     / statistics.median(o["wall"] for o in plain) - 1
                                     if traced and plain else 0.0),
        }
        return layers, one

    def write_trace(self, ops: list[dict], layers: dict) -> None:
        traced = {o["group"] for o in ops if o["traced"]}
        selfs = self.tracer.self_times(traced)
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        path = os.path.join(STATE, "traces", f"{self.wl.name}-seed{self.args.seed}-{stamp}.json")
        self.tracer.dump(path, per_layer=layers, self_s_per_op={
            k: v / max(1, len(traced)) for k, v in sorted(selfs.items())})
        print(f"trace written to {os.path.relpath(path, ROOT)}")

    def close(self) -> None:
        """Stop Spark, the JVM it launched and every process left under us."""
        from perfbench import procstat

        # taken first: once the JVM exits, its Python workers are re-parented
        started = procstat.descendants()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        left = set(started) | set(procstat.descendants())
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while time.time() < deadline and any(procstat.alive(p) for p in left):
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)


def spark_counters(spark, group: str) -> dict:
    """Jobs, stages, tasks and rows read by one job group (one operation),
    from Spark's status tracker and status store."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = records = 0
    for sid in stage_ids:
        info = st.getStageInfo(sid)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue  # skipped: its output was reused
        stages += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
        records += store.lastStageAttempt(sid).inputRecords()
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "tasks_failed": failed, "input_records": records}


def _median_ratio(ops: list[dict], num: str, den: str) -> float:
    vals = [o[num] / o[den] for o in ops if num in o and o.get(den)]
    return float(statistics.median(vals)) if vals else 0.0


def _direct_child_total(tracer, op_ids, root_name, child_name) -> float:
    roots = {s["id"] for s in tracer.spans if s["name"] == root_name and s["op"] in op_ids}
    return sum(s["end"] - s["start"] for s in tracer.spans
               if s["parent"] in roots and s["name"] == child_name)


def _print_table(workload: str, res: dict) -> None:
    """Every end-to-end metric by name and unit (and, traced, every
    per-layer one), one per line."""
    units = {**PER_LAYER_UNITS, **END_TO_END_UNITS}
    rows = {**res["e2e"], **res["extra"], **res.get("layers", {})}
    for k, v in rows.items():
        print(f"{workload:16s} {k:36s} {v:14.6g} {units[k]}")
    print(f"{workload:16s} {'untraced operations':36s} "
          + " ".join(f"{w:.3f}" for w in res["walls"]) + " s")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["backfill", "daily_increment", "interval_report"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"{PKG}/ not found in {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    work = os.path.join(STATE, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # before anything imports tempfile or launches the JVM: temp files,
    # Spark scratch space and the Python workers' imports stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too: no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runner = Runner(args, work)
    try:
        res = runner.run()
    finally:
        runner.close()
        shutil.rmtree(work, ignore_errors=True)

    _print_table(args.workload, res)
    metrics = res["layers"] if args.trace else res["e2e"]
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    assert set(metrics) == set(units), sorted(set(metrics) ^ set(units))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
