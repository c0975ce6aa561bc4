"""The benchmark's own tests: each workload at toy size passes its output
check, and each check rejects an output corrupted in the way it guards.

    python -m pytest runbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from runbench import checks, run  # noqa: E402
from runbench.trace import Tracer  # noqa: E402
from runbench.workloads import WORKLOADS, DedupMinhash, ValidateDirty  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    saved = dict(os.environ)
    os.environ.update(
        {"SPARK_GRAFT_CPUS": "2", "SCHEMA_INFER_PERFORMANCE_SHUFFLE_PARTITIONS": "4"}
    )
    from schema_infer_plugin_spark.session import get_spark

    s = get_spark(app_name="runbench-test", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()
    os.environ.clear()
    os.environ.update(saved)


def _rewrite(path: Path, fn) -> None:
    """Apply ``fn(table) -> table`` to every parquet data file under ``path``."""
    for f in sorted(path.rglob("*.parquet")):
        table = pq.read_table(f, partitioning=None)
        pq.write_table(fn(table), f)


def _set(table: pa.Table, col: str, values) -> pa.Table:
    i = table.schema.get_field_index(col)
    return table.set_column(i, col, pa.array(values, table.schema.field(col).type))


@pytest.fixture(scope="module")
def validate_run(spark, tmp_path_factory):
    wl = ValidateDirty(n_convs=300)
    base = tmp_path_factory.mktemp("validate")
    inp = wl.generate(spark, 7, str(base / "input"))
    out = base / "out"
    stdout = wl.run(inp, str(out))
    return wl, inp, wl.reference(spark, inp), out, stdout


def test_validate_toy_run_passes(validate_run):
    wl, inp, ref, out, stdout = validate_run
    assert sum(ref["counts"].values()) > 0  # the broken producer always shows
    assert wl.check(inp, ref, str(out), stdout) == {}


def _corrupt_drop_violation_file(out: Path) -> None:
    next((out / "violations").rglob("*.parquet")).unlink()


def _corrupt_ledger_rows(out: Path) -> None:
    _rewrite(out / "ledger", lambda t: _set(t, "rows_processed",
                                            [v + 1 for v in t["rows_processed"].to_pylist()]))


def _corrupt_ledger_violations(out: Path) -> None:
    _rewrite(out / "ledger", lambda t: _set(t, "violation_count",
                                            [v + 1 for v in t["violation_count"].to_pylist()]))


def _corrupt_ledger_bucket(out: Path) -> None:
    _rewrite(out / "ledger", lambda t: t.filter(pc.not_equal(t["partition_key"], "0")))


def _corrupt_verdict_pass(out: Path) -> None:
    _rewrite(out / "verdicts", lambda t: _set(t, "pass", [True] * t.num_rows))


def _corrupt_verdict_count(out: Path) -> None:
    _rewrite(out / "verdicts", lambda t: _set(
        t, "violation_count", [v + 1 for v in t["violation_count"].to_pylist()]))


def _corrupt_verdict_grid(out: Path) -> None:
    shutil.rmtree(out / "verdicts" / "partition_key=0")


@pytest.mark.parametrize(
    "corrupt, summary, check",
    [
        (_corrupt_drop_violation_file, None, "violations.per_check"),
        (_corrupt_ledger_rows, None, "ledger.rows"),
        (_corrupt_ledger_violations, None, "ledger.violations"),
        (_corrupt_ledger_bucket, None, "ledger.buckets"),
        (_corrupt_verdict_pass, None, "verdicts.pass"),
        (_corrupt_verdict_count, None, "verdicts.violations"),
        (_corrupt_verdict_grid, None, "verdicts.grid"),
        (None, {"processed": 48, "skipped": 16}, "summary.buckets"),
    ],
)
def test_validate_check_rejects_corruption(validate_run, tmp_path, corrupt, summary, check):
    wl, inp, ref, out, stdout = validate_run
    copy = tmp_path / "out"
    shutil.copytree(out, copy)
    if corrupt is not None:
        corrupt(copy)
    if summary is not None:
        stdout = repr(summary)
    assert check in wl.check(inp, ref, str(copy), stdout)


@pytest.fixture(scope="module")
def dedup_run(spark, tmp_path_factory):
    wl = DedupMinhash(n_convs=600)
    base = tmp_path_factory.mktemp("dedup")
    inp = wl.generate(spark, 7, str(base / "input"))
    out = base / "out"
    stdout = wl.run(inp, str(out))
    return wl, inp, out, stdout


def test_dedup_toy_run_passes(dedup_run):
    wl, inp, out, stdout = dedup_run
    assert inp["planted"]
    assert wl.check(inp, {}, str(out), stdout) == {}


def _corrupt_drop_pairs_of_one_doc(out: Path) -> None:
    """Drop every pair touching one document that is not its cluster's
    smallest id: the written decision still puts it in that cluster."""
    doc = checks.read_rows(str(out / "pairs"), ["id_b"])[0]["id_b"]
    _rewrite(out / "pairs", lambda t: t.filter(
        pc.and_(pc.not_equal(t["id_a"], doc), pc.not_equal(t["id_b"], doc))))


def _corrupt_drop_all_pairs(out: Path) -> None:
    _rewrite(out / "pairs", lambda t: t.slice(0, 0))


def _corrupt_duplicate_decision(out: Path) -> None:
    f = next((out / "decision").rglob("*.parquet"))
    t = pq.read_table(f)
    pq.write_table(pa.concat_tables([t, t.slice(0, 1)]), f)


def _decision_rewrite(out: Path, fn) -> None:
    """Rewrite decision rows with ``fn(row) -> row``."""
    def apply(t: pa.Table) -> pa.Table:
        return pa.Table.from_pylist([fn(r) for r in t.to_pylist()], schema=t.schema)

    _rewrite(out / "decision", apply)


def _corrupt_canonical(out: Path) -> None:
    # every row names a canonical id that is no document at all
    _decision_rewrite(out, lambda r: {**r, "canonical_id": r["component"] + 10**9})


def _corrupt_planted(out: Path, planted: dict[int, int]) -> None:
    copy = next(iter(planted))
    _decision_rewrite(out, lambda r: {**r, "component": r["doc_id"], "canonical_id": r["doc_id"],
                                      "keep": True} if r["doc_id"] == copy else r)


@pytest.mark.parametrize(
    "corrupt, check",
    [
        (_corrupt_drop_pairs_of_one_doc, "decision.components"),
        (_corrupt_drop_all_pairs, "pairs.nonempty"),
        (_corrupt_duplicate_decision, "decision.one_per_doc"),
        (_corrupt_canonical, "decision.canonical"),
        (_corrupt_planted, "decision.planted"),
        ("stdout", "summary.counts"),
    ],
)
def test_dedup_check_rejects_corruption(dedup_run, tmp_path, corrupt, check):
    wl, inp, out, stdout = dedup_run
    copy = tmp_path / "out"
    shutil.copytree(out, copy)
    if corrupt == "stdout":
        stdout = stdout.replace("pairs=", "pairs=1")
    elif corrupt is _corrupt_planted:
        corrupt(copy, inp["planted"])
    else:
        corrupt(copy)
    assert check in wl.check(inp, {}, str(copy), stdout)


class _FakeSparkContext:
    def setJobGroup(self, *_):
        pass

    def setLocalProperty(self, *_):
        pass


class _FakeSpark:
    sparkContext = _FakeSparkContext()


def test_breakdown_self_times_sum_to_wall():
    tr = Tracer(_FakeSpark())
    with tr.span("run") as root:
        with tr.span("a"):
            with tr.span("write:x"):
                pass
        with tr.span("b"):
            pass
    bd = tr.breakdown(root, {})
    total = sum(v["self_s"] for v in bd["spans"].values()) + bd["other_s"]
    assert total == pytest.approx(bd["wall_s"], abs=1e-9)
    assert set(bd["spans"]) == {"a", "b", "write:x"}


def test_tail_needs_ten_samples_beyond():
    assert run._tail([1.0] * 10) == (None, None)
    pct, value = run._tail([float(i) for i in range(20)])
    assert (pct, value) == (50.0, 9.0)  # ten samples (10..19) lie above it


def test_benchmark_json_matches_the_metrics_reported():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "run_s", "first_run_s", "rows_per_s", "setup_s"}


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout (only BENCHMARK.json and the benchmark's files) the
    benchmark exits non-zero and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "runbench", tmp_path / "runbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "runbench/run.py", "--workload", "validate_dirty", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
