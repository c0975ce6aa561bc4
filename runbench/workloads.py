"""The benchmark's workloads: input generation, the entry-point call, the
reference, the output check and the per-layer metrics of a traced run.

Inputs are made from the benchmark's seed and handed to the engine only as
files. Each run calls a user entry point exactly as a user would —
``plans.runner.main`` or ``cli.main`` with argv — into a fresh, empty output
directory.
"""

from __future__ import annotations

import ast
import contextlib
import io
import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from runbench import checks

#: span names used for the traced run's per-layer metrics
RUNNER_SPANS = (
    "resolve_transcripts_input",
    "run_profile",
    "write_histograms",
    "run_validation",
    "append_ledger",
    "completed_keys",
    "write_triage",
    "write_scorecard",
)


def _capture(fn, argv: list[str]) -> str:
    """Call a CLI ``main(argv)``; return what it printed."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(argv)
    return buf.getvalue()


def _sum(spans: dict, name: str, key: str = "total_s") -> float:
    return spans.get(name, {}).get(key, 0)


def _median_time(fn, n: int) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class ValidateDirty:
    """``plans.runner.main --batch-buckets 64`` over a ``bucketed:`` synth
    table in which a broken producer renamed role ``user`` to ``human`` in a
    seeded half of the conversations. One batch pays the per-batch cost once,
    so compute and violation volume — writes beside reads — carry the run."""

    name = "validate_dirty"
    n_buckets = 64

    def __init__(self, n_convs: int = 5_000) -> None:
        self.n_convs = n_convs

    def generate(self, spark, seed: int, in_dir: str) -> dict:
        from pyspark.sql import functions as F

        from schema_infer_plugin_spark.plans.runner import with_partition_key, write_bucketed
        from schema_infer_plugin_spark.sources.synth import synth_transcripts

        t = synth_transcripts(spark, self.n_convs, seed=seed)
        broken = F.pmod(F.xxhash64("conv_id", F.lit(seed), F.lit("broken")), F.lit(2)) == 0
        t = t.withColumn(
            "role",
            F.when(broken & (F.col("role") == "user"), F.lit("human")).otherwise(F.col("role")),
        )
        # one file per bucket, as a table compacted by its producer would be
        keyed = with_partition_key(t, self.n_buckets).repartition("partition_key")
        write_bucketed(keyed, in_dir, self.n_buckets)
        return {"dir": in_dir, "rows": checks.footer_rows(in_dir)}

    def reference(self, spark, inp: dict) -> dict:
        """Per-check violation counts of the modular ``checks/`` union — the
        oracle-checked specification the fused plan must reproduce."""
        from pyspark.sql import functions as F

        from schema_infer_plugin_spark.checks import (
            contiguity_violations,
            domain_violations,
            null_violations,
            uniqueness_violations,
        )
        from schema_infer_plugin_spark.checks.domains import tool_requires_role_violations
        from schema_infer_plugin_spark.checks.temporal import ts_monotonic_violations
        from schema_infer_plugin_spark.schema import ROLE_DOMAIN, TOOL_DOMAIN

        t = spark.read.parquet(inp["dir"]).drop("partition_key")
        parts = [
            uniqueness_violations(t),
            contiguity_violations(t),
            domain_violations(t, "role", ROLE_DOMAIN).withColumn("check_name", F.lit("domain_role")),
            domain_violations(t, "tool", TOOL_DOMAIN).withColumn("check_name", F.lit("domain_tool")),
            tool_requires_role_violations(t),
            null_violations(t, "text"),
            null_violations(t, "conv_id"),
            null_violations(t, "turn_idx"),
            ts_monotonic_violations(t),
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        counts = dict(union.groupBy("check_name").count().collect())
        return {"counts": {c: int(counts.get(c, 0)) for c in checks.VALIDATE_CHECKS}}

    def run(self, inp: dict, out_dir: str) -> str:
        from schema_infer_plugin_spark.plans.runner import main

        argv = ["--input", f"bucketed:{inp['dir']}", "--out", out_dir, "--run-id", "bench",
                "--batch-buckets", str(self.n_buckets)]
        return _capture(main, argv)

    def check(self, inp: dict, ref: dict, out_dir: str, stdout: str) -> dict[str, str]:
        summary = ast.literal_eval(stdout.strip().splitlines()[-1])
        return checks.check_validate(out_dir, summary, inp["rows"], ref["counts"], self.n_buckets)

    def trace_patches(self, tracer, stack: contextlib.ExitStack, spark) -> None:
        from schema_infer_plugin_spark.plans import runner

        for name in RUNNER_SPANS:
            tracer.patch(stack, runner, name)

    def layer_metrics(self, tracer, bd: dict, spark, inp: dict, out_dir: str) -> dict[str, float]:
        from schema_infer_plugin_spark.plans.validate import validate_transcripts

        spans = bd["spans"]
        rv = next(s for s in tracer.spans if s.name == "run_validation")
        inside = [s for s in tracer.spans if s.start >= rv.start and s.end <= rv.end]
        ledger_ends = [s.end for s in inside if s.name == "append_ledger"]
        bounds = [rv.start] + ledger_ends
        batch = [b - a for a, b in zip(bounds, bounds[1:])]
        viol_ends = [s.end for s in inside if s.name == "write:violations"]
        verd_ends = [s.end for s in inside if s.name == "write:verdicts"]

        t = spark.read.parquet(inp["dir"]).drop("partition_key")
        fused = _median_time(
            lambda: validate_transcripts(t).write.format("noop").mode("overwrite").save(), 3
        )
        scan = _median_time(lambda: t.write.format("noop").mode("overwrite").save(), 3)
        run_validation_s = _sum(spans, "run_validation")
        return {
            "sources.resolve_s": _sum(spans, "resolve_transcripts_input"),
            "operators.profile.run_profile_s": _sum(spans, "run_profile"),
            "checks.drift.write_histograms_s": _sum(spans, "write_histograms"),
            "plans.validate.fused_noop_s": fused,
            "plans.validate.scan_noop_s": scan,
            "plans.runner.run_validation_s": run_validation_s,
            "plans.runner.batches": len(batch),
            "plans.runner.batch_s": statistics.median(batch) if batch else 0.0,
            "plans.runner.batch_overhead_s": (
                (run_validation_s - fused) / len(batch) if batch else 0.0
            ),
            "plans.runner.violation_write_s": _sum(spans, "write:violations"),
            "plans.runner.verdict_s": sum(b - a for a, b in zip(viol_ends, verd_ends)),
            "plans.runner.triage_s": _sum(spans, "write_triage"),
            "plans.runner.scorecard_s": _sum(spans, "write_scorecard"),
            "plans.ledger.append_s": _sum(spans, "append_ledger"),
            "plans.ledger.appends": _sum(spans, "append_ledger", "calls"),
            "plans.ledger.completed_keys_s": _sum(spans, "completed_keys"),
        }


#: files the dedup corpus is written as
DOC_FILES = 4
#: words the planted near-duplicate copies append (outside synth's vocabulary)
_APPEND_WORDS = ("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel")


class DedupMinhash:
    """``cli dedup --method minhash --threshold 0.5`` over one document per
    synth conversation plus seeded planted near-duplicate chains: exercises
    the datapipe layers (signatures, banded join, components) that validation
    never touches."""

    name = "dedup_minhash"

    def __init__(self, n_convs: int = 5_000) -> None:
        self.n_convs = n_convs

    def generate(self, spark, seed: int, in_dir: str) -> dict:
        from pyspark.sql import functions as F

        from schema_infer_plugin_spark.sources.synth import synth_transcripts

        t = synth_transcripts(spark, self.n_convs, seed=seed, inject=False)
        docs = (
            t.groupBy("conv_id")
            .agg(F.array_sort(F.collect_list(F.struct("turn_idx", "text"))).alias("turns"))
            .select("conv_id", F.concat_ws(" ", F.col("turns.text")).alias("text"))
            .orderBy("conv_id")
            .collect()
        )
        texts = [r["text"] for r in docs]
        rng = random.Random(seed)
        sources = [i for i, x in enumerate(texts) if len(x.split()) >= 40]
        planted: dict[int, int] = {}
        # copy j appends the first j of ten seeded words: consecutive copies
        # differ by one word, so each source and its copies form one chain
        for src in sorted(rng.sample(sources, max(1, len(sources) // 100))):
            tail = rng.choices(_APPEND_WORDS, k=10)
            for j in range(1, 11):
                planted[len(texts)] = src
                texts.append(" ".join([texts[src], *tail[:j]]))
        table = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts})
        # the corpus as a parallel producer leaves it: one file per writer
        table_dir = os.path.join(in_dir, "documents.parquet")
        os.makedirs(table_dir)
        step = -(-table.num_rows // DOC_FILES)
        for i in range(DOC_FILES):
            pq.write_table(table.slice(i * step, step), os.path.join(table_dir, f"part-{i}.parquet"))
        return {
            "dir": in_dir,
            "rows": len(texts),
            "text_len": {i: len(x) for i, x in enumerate(texts)},
            "planted": planted,
        }

    def reference(self, spark, inp: dict) -> dict:
        return {}  # the check recomputes components from the written pairs

    def run(self, inp: dict, out_dir: str) -> str:
        from schema_infer_plugin_spark.cli import main

        argv = ["dedup", "--input", inp["dir"], "--method", "minhash",
                "--threshold", "0.5", "--out", out_dir]
        return _capture(main, argv)

    def check(self, inp: dict, ref: dict, out_dir: str, stdout: str) -> dict[str, str]:
        return checks.check_dedup(out_dir, stdout, inp["text_len"], inp["planted"])

    def trace_patches(self, tracer, stack: contextlib.ExitStack, spark) -> None:
        from schema_infer_plugin_spark.datapipe import graph

        tracer.patch(stack, graph, "connected_components")
        tracer.count(stack, type(spark.range(1)), "count", "count")

    def layer_metrics(self, tracer, bd: dict, spark, inp: dict, out_dir: str) -> dict[str, float]:
        spans = bd["spans"]
        pair_spans = [s for s in tracer.spans if s.name == "write:pairs"]
        candidates = sum(tracer.sql_output_rows(s.sid, "Join") for s in pair_spans)
        pairs = checks.footer_rows(os.path.join(out_dir, "pairs"))
        # min-label propagation runs one convergence count() per round
        rounds = sum(
            s.calls.get("count", 0) for s in tracer.spans if s.name == "connected_components"
        )
        return {
            "datapipe.dedup.pairs_s": _sum(spans, "write:pairs"),
            "datapipe.dedup.candidates": candidates,
            "datapipe.dedup.pairs": pairs,
            "datapipe.dedup.pair_yield": pairs / candidates if candidates else 0.0,
            "datapipe.graph.components_s": _sum(spans, "connected_components"),
            "datapipe.graph.rounds": rounds,
            "datapipe.graph.decision_s": _sum(spans, "write:decision"),
        }


WORKLOADS = {w.name: w for w in (ValidateDirty, DedupMinhash)}
