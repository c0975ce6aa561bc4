"""End-to-end benchmark of the engine's user entry points.

    python3 runbench/run.py --workload validate_dirty --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. One invocation is one
process, as for a ``spark-submit`` user:

1. set-up — start the Spark session, make the workload's input files from
   ``--seed`` and, after the first run, compute the reference;
2. the first run of the entry point, with JIT and codegen still cold;
3. warm runs for ``--seconds`` (at least one);
4. with ``--trace 1``, one more run with spans around the engine's public
   calls, then the isolated probes.

Every run writes into a fresh, empty output directory and its outputs are
checked against the reference (``checks.py``); a run that raises or fails its
check counts as failed. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics, or with ``--trace 1`` the per-layer ones. The line before it holds
the details: every sample, the environment and the traced span breakdown.
Everything the benchmark writes stays under ``.runbench/`` in the checkout;
the Spark log of each invocation is kept there.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
#: a log4j line at level ERROR (stack-trace continuation lines don't match)
_ERROR_LINE = re.compile(rb"^\S+ \S+ ERROR ", re.M)
#: local[k]: at most this many task threads, never more than the host has
MAX_LOCAL_CORES = 4


def _pin_environment(work: Path, k: int) -> int:
    """Hermetic engine settings for this process; returns shuffle partitions.

    The engine reads ``SPARK_GRAFT_CPUS`` and ``SCHEMA_INFER_*`` config; the
    benchmark sets both so the session factory and the entry points agree on
    local[k] and the shuffle partition count. Scratch space stays in ``work``."""
    for key in [k for k in os.environ if k.startswith("SCHEMA_INFER_")]:
        del os.environ[key]
    os.environ.pop("SPARK_MASTER", None)
    shuffle = max(k, 8)  # session.get_spark's own default for k cores
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(k),
            "SCHEMA_INFER_PERFORMANCE_MASTER": f"local[{k}]",
            "SCHEMA_INFER_PERFORMANCE_SHUFFLE_PARTITIONS": str(shuffle),
            "SPARK_LOCAL_DIRS": str(tmp),
            "TMPDIR": str(tmp),
            # both JVMs spark-submit starts: temp files in work, no hsperfdata in /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = str(tmp)
    return shuffle


def _start_spark(work: Path, k: int, shuffle: int):
    from schema_infer_plugin_spark.session import get_spark

    return get_spark(
        app_name="runbench",
        master=f"local[{k}]",
        shuffle_partitions=shuffle,
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # keep every job of the process in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


class Bench:
    def __init__(self, args, work: Path, log_path: Path) -> None:
        from runbench.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.log_path = log_path
        self.wl = WORKLOADS[args.workload]()
        self.k = min(MAX_LOCAL_CORES, len(os.sched_getaffinity(0)))
        self.shuffle = _pin_environment(work, self.k)
        self.n = 0

    def _log_errors_since(self, offset: int) -> int:
        """ERROR lines logged since ``offset``, once the listener bus (which
        logs asynchronously) has caught up."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        with open(self.log_path, "rb") as f:
            f.seek(offset)
            return len(_ERROR_LINE.findall(f.read()))

    def one_run(self, kind: str, around=None) -> dict:
        """One entry-point call into a fresh, empty output directory;
        ``around`` is a context entered just outside the timed call."""
        out = self.work / f"out{self.n}"
        self.n += 1
        offset = self.log_path.stat().st_size
        stdout, error = "", None
        with around or contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                stdout = self.wl.run(self.inp, str(out))
            except Exception:
                error = traceback.format_exc()
            wall = time.perf_counter() - t0
        return {"kind": kind, "wall_s": wall, "out": str(out), "stdout": stdout,
                "error": error, "log_error_lines": self._log_errors_since(offset)}

    def check(self, run: dict) -> None:
        if run["error"] is None:
            try:
                run["bad"] = self.wl.check(self.inp, self.ref, run["out"], run["stdout"])
            except Exception:
                run["bad"] = {"check.raised": traceback.format_exc()}
        if run["kind"] != "traced":
            shutil.rmtree(run["out"], ignore_errors=True)

    def execute(self) -> dict:
        t0 = time.perf_counter()
        self.spark = _start_spark(self.work, self.k, self.shuffle)
        session_s = time.perf_counter() - t0
        try:
            res = self._measure()
            jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            peak_kb = _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        finally:
            _stop_spark(self.spark)
        res["session_s"] = session_s
        res["setup_s"] = session_s + res["generate_s"] + res["reference_s"]
        res["peak_rss_mb"] = peak_kb / 1024.0
        return res

    def _measure(self) -> dict:
        args = self.args
        t0 = time.perf_counter()
        self.inp = self.wl.generate(self.spark, args.seed, str(self.work / "input"))
        gen_s = time.perf_counter() - t0

        first = self.one_run("first")
        t0 = time.perf_counter()
        self.ref = self.wl.reference(self.spark, self.inp)
        ref_s = time.perf_counter() - t0
        self.check(first)

        warm: list[dict] = []
        t0 = time.perf_counter()
        while not warm or time.perf_counter() - t0 < args.seconds:
            warm.append(self.one_run("warm"))
            self.check(warm[-1])

        return {
            "generate_s": gen_s, "reference_s": ref_s, "first": first, "warm": warm,
            "layers": self.traced(warm) if args.trace else {},
        }

    def traced(self, warm: list[dict]) -> dict:
        from pyspark.sql.readwriter import DataFrameWriter

        from runbench.trace import Tracer, parquet_span_name

        tracer = Tracer(self.spark)
        with contextlib.ExitStack() as stack:
            self.wl.trace_patches(tracer, stack, self.spark)
            tracer.patch(stack, DataFrameWriter, "parquet", parquet_span_name)
            root_span = tracer.span("run")
            run = self.one_run("traced", around=root_span)
            root = tracer.spans[0]
        self.check(run)
        bd = tracer.breakdown(root, tracer.spark_counts())
        self_sum = sum(v["self_s"] for v in bd["spans"].values()) + bd["other_s"]
        bd["self_sum_matches_wall"] = abs(self_sum - bd["wall_s"]) < 1e-6
        spark_run = bd["run_spark"]
        metrics = {
            **self.wl.layer_metrics(tracer, bd, self.spark, self.inp, run["out"]),
            **{f"spark.{k}": v for k, v in spark_run.items()},
            "spark.busy_share": spark_run["executor_busy_s"] / (bd["wall_s"] * self.k),
            "log.error_lines": run["log_error_lines"],
            "trace.run_s": bd["wall_s"],
            "trace.other_s": bd["other_s"],
            "trace.overhead_s": bd["wall_s"] - statistics.median(r["wall_s"] for r in warm),
        }
        shutil.rmtree(run["out"], ignore_errors=True)
        return {"run": run, "metrics": metrics, "breakdown": bd}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest percentile with >= 10 samples above
    it, or (None, None) when there are fewer than 11 samples."""
    n = len(samples)
    if n < 11:
        return None, None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


#: per-layer metrics of a traced run: name -> unit. A layer a workload does
#: not pass through reports 0 (e.g. ``plans.runner.batches`` on dedup).
PER_LAYER = {
    "sources.resolve_s": "s",
    "operators.profile.run_profile_s": "s",
    "checks.drift.write_histograms_s": "s",
    "plans.validate.fused_noop_s": "s",
    "plans.validate.scan_noop_s": "s",
    "plans.runner.run_validation_s": "s",
    "plans.runner.batches": "count",
    "plans.runner.batch_s": "s",
    "plans.runner.batch_overhead_s": "s",
    "plans.runner.violation_write_s": "s",
    "plans.runner.verdict_s": "s",
    "plans.runner.triage_s": "s",
    "plans.runner.scorecard_s": "s",
    "plans.ledger.append_s": "s",
    "plans.ledger.appends": "count",
    "plans.ledger.completed_keys_s": "s",
    "datapipe.dedup.pairs_s": "s",
    "datapipe.dedup.candidates": "count",
    "datapipe.dedup.pairs": "count",
    "datapipe.dedup.pair_yield": "ratio",
    "datapipe.graph.components_s": "s",
    "datapipe.graph.rounds": "count",
    "datapipe.graph.decision_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_busy_s": "s",
    "spark.busy_share": "ratio",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "log.error_lines": "count",
    "trace.run_s": "s",
    "trace.other_s": "s",
    "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
    "failed_share": "ratio",
    "run_s_samples": "count",
    "env.cpus": "count",
    "env.local_k": "count",
    "env.shuffle_partitions": "count",
}


def report(bench: Bench, res: dict) -> tuple[dict, dict]:
    """(result line, detail line) of one invocation."""
    args = bench.args
    runs = [res["first"], *res["warm"], *([res["layers"]["run"]] if args.trace else [])]
    failed = [r for r in runs if r["error"] is not None or r.get("bad")]
    warm_s = [r["wall_s"] for r in res["warm"]]
    run_s = statistics.median(warm_s)
    tail_pct, tail_s = _tail(warm_s)
    env = {"cpus": len(os.sched_getaffinity(0)), "local_k": bench.k,
           "shuffle_partitions": bench.shuffle}
    correct = not failed
    if args.trace:
        measured = {
            **res["layers"]["metrics"],
            "peak_rss_mb": res["peak_rss_mb"],
            "failed_share": len(failed) / len(runs),
            "run_s_samples": len(warm_s),
            **{f"env.{k}": v for k, v in env.items()},
        }
        metrics = {n: {"value": measured.get(n, 0), "unit": u} for n, u in PER_LAYER.items()}
        correct = correct and res["layers"]["breakdown"]["self_sum_matches_wall"]
    else:
        metrics = {
            "run_s": {"value": run_s, "unit": "s"},
            "first_run_s": {"value": res["first"]["wall_s"], "unit": "s"},
            "rows_per_s": {"value": bench.inp["rows"] / run_s, "unit": "1/s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
        }
    detail = {
        "workload": bench.wl.name, "seed": args.seed, **env,
        "input_rows": bench.inp["rows"],
        "setup": {k: res[k] for k in ("session_s", "generate_s", "reference_s", "setup_s")},
        "first_run_s": res["first"]["wall_s"],
        "run_s_samples": warm_s, "run_s_tail_pct": tail_pct, "run_s_tail": tail_s,
        "peak_rss_mb": res["peak_rss_mb"],
        "log_error_lines": [r["log_error_lines"] for r in runs],
        "failures": [{"kind": r["kind"], "error": r["error"], "bad": r.get("bad")} for r in failed],
    }
    result = {"correct": correct, "attempted": len(runs), "failed": len(failed),
              "metrics": metrics}
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import schema_infer_plugin_spark  # noqa: F401

        from runbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"runbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"runbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    base = ROOT / ".runbench"
    work = base / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    log_path = base / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    # the driver JVM inherits fd 2: its log4j output lands in the log file,
    # where each run's ERROR lines are counted
    saved_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        bench = Bench(args, work, log_path)
        res = bench.execute()
        result, detail = report(bench, res)
        if args.trace:
            with open(base / f"trace-{args.workload}-seed{args.seed}.json", "w") as f:
                json.dump({"detail": detail, **res["layers"]}, f, indent=1, default=str)
    except Exception:
        traceback.print_exc()
        sys.stderr.flush()
        os.write(saved_stderr, traceback.format_exc().encode())
        return 1
    finally:
        sys.stderr.flush()
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
