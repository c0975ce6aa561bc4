"""Output checks for the benchmark's workloads.

Every check reads the run's written parquet with pyarrow and recomputes the
expected result in plain Python. None of them calls into the engine, so a
defect in the code under test cannot also hide itself in its check. Each
check function returns ``{check_name: problem}`` for the checks that failed;
an empty dict means the output is correct.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import pyarrow.dataset as ds
import pyarrow.parquet as pq

#: the check names the modular ``checks/`` union can emit, one verdict row per
#: (bucket, name) — the grid every validation run must write
VALIDATE_CHECKS = (
    "uniqueness",
    "contiguity",
    "contiguity_start",
    "ts_monotonic",
    "domain_role",
    "domain_tool",
    "tool_without_role",
    "not_null_text",
    "not_null_conv_id",
    "not_null_turn_idx",
)


def read_rows(path: str, columns: list[str]) -> list[dict]:
    """Rows of a (possibly hive-partitioned) parquet dir; [] when the dir has
    no data files. Partition values come back as strings."""
    if not os.path.exists(path):
        return []
    files = [
        os.path.join(root, f)
        for root, _dirs, names in os.walk(path)
        for f in names
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]
    if not files:
        return []
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    )
    rows = table.to_pylist()
    for r in rows:
        if r.get("partition_key") is not None:
            r["partition_key"] = str(r["partition_key"])
    return rows


def footer_rows(path: str) -> int:
    """Total rows of every parquet file under ``path``, from footers only."""
    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _dirs, names in os.walk(path)
        for f in names
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def check_validate(
    out_dir: str,
    summary: dict,
    input_rows: int,
    expected_counts: dict[str, int],
    n_buckets: int,
) -> dict[str, str]:
    """A validation run's outputs against the reference.

    ``expected_counts`` is the per-check violation count of the modular
    ``checks/`` union over the same input, computed once at set-up."""
    bad: dict[str, str] = {}
    keys = {str(i) for i in range(n_buckets)}

    if summary.get("processed") != n_buckets or summary.get("skipped") != 0:
        bad["summary.buckets"] = (
            f"processed={summary.get('processed')} skipped={summary.get('skipped')},"
            f" want {n_buckets}/0"
        )

    viol = read_rows(os.path.join(out_dir, "violations"), ["check_name", "partition_key"])
    got_counts = Counter(r["check_name"] for r in viol)
    want_counts = Counter({k: v for k, v in expected_counts.items() if v})
    if got_counts != want_counts:
        bad["violations.per_check"] = f"got {dict(got_counts)}, want {dict(want_counts)}"

    ledger = [
        r
        for r in read_rows(
            os.path.join(out_dir, "ledger"),
            ["pass_name", "partition_key", "rows_processed", "violation_count"],
        )
        if r["pass_name"] == "validate"
    ]
    ledger_keys = Counter(r["partition_key"] for r in ledger)
    if set(ledger_keys) != keys or max(ledger_keys.values(), default=0) != 1:
        bad["ledger.buckets"] = f"{len(ledger)} rows over {len(ledger_keys)} buckets"
    ledger_rows = sum(r["rows_processed"] for r in ledger)
    if ledger_rows != input_rows:
        bad["ledger.rows"] = f"sum rows_processed={ledger_rows}, input rows={input_rows}"
    ledger_viol = sum(r["violation_count"] for r in ledger)
    if ledger_viol != len(viol):
        bad["ledger.violations"] = (
            f"sum violation_count={ledger_viol}, violation rows={len(viol)}"
        )

    verd = read_rows(
        os.path.join(out_dir, "verdicts"),
        ["partition_key", "check_name", "pass", "violation_count"],
    )
    grid = Counter((r["partition_key"], r["check_name"]) for r in verd)
    want_grid = {(k, c) for k in keys for c in VALIDATE_CHECKS}
    if set(grid) != want_grid or len(verd) != len(want_grid):
        bad["verdicts.grid"] = f"{len(verd)} rows, want {len(want_grid)}"
    cell_viol = Counter((r["partition_key"], r["check_name"]) for r in viol)
    wrong = [
        r for r in verd
        if r["violation_count"] != cell_viol.get((r["partition_key"], r["check_name"]), 0)
    ]
    if wrong or sum(r["violation_count"] for r in verd) != len(viol):
        bad["verdicts.violations"] = (
            f"{len(wrong)} cells disagree with the violation rows;"
            f" sum={sum(r['violation_count'] for r in verd)} rows={len(viol)}"
        )
    flipped = [r for r in verd if r["pass"] != (r["violation_count"] == 0)]
    if flipped:
        bad["verdicts.pass"] = f"{len(flipped)} rows where pass != (count == 0)"
    return bad


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


_SUMMARY = re.compile(r"docs=(\d+) pairs=(\d+) kept=(\d+) removed=(\d+)")


def check_dedup(
    out_dir: str,
    stdout: str,
    text_len: dict[int, int],
    planted: dict[int, int],
) -> dict[str, str]:
    """A minhash dedup run's outputs against a driver-side recomputation.

    ``text_len``: every input document id → its text length; ``planted``:
    every planted copy id → the id of the document it was copied from."""
    bad: dict[str, str] = {}
    pairs = read_rows(os.path.join(out_dir, "pairs"), ["id_a", "id_b"])
    dec = read_rows(
        os.path.join(out_dir, "decision"), ["doc_id", "component", "canonical_id", "keep"]
    )
    if not pairs:
        bad["pairs.nonempty"] = "no pairs written"
    if any(p["id_a"] >= p["id_b"] for p in pairs):
        bad["pairs.ordered"] = "a pair with id_a >= id_b"

    by_id = {r["doc_id"]: r for r in dec}
    if len(by_id) != len(dec) or set(by_id) != set(text_len):
        bad["decision.one_per_doc"] = f"{len(dec)} decision rows for {len(text_len)} docs"

    uf = _UnionFind()
    for p in pairs:
        uf.union(p["id_a"], p["id_b"])
    want_comp = {d: uf.find(d) if d in uf.parent else d for d in text_len}
    comp_bad = [d for d, c in want_comp.items() if d in by_id and by_id[d]["component"] != c]
    if comp_bad:
        bad["decision.components"] = f"{len(comp_bad)} docs in the wrong component"

    # canonical = longest text, ties to the smallest id
    best: dict[int, int] = {}
    for d, c in want_comp.items():
        b = best.get(c)
        if b is None or (text_len[d], -d) > (text_len[b], -b):
            best[c] = d
    canon_bad = [
        d for d, c in want_comp.items()
        if d in by_id
        and (by_id[d]["canonical_id"] != best[c] or by_id[d]["keep"] != (d == best[c]))
    ]
    if canon_bad:
        bad["decision.canonical"] = f"{len(canon_bad)} docs with the wrong canonical/keep"

    apart = [
        c for c, s in planted.items()
        if c in by_id and s in by_id and by_id[c]["component"] != by_id[s]["component"]
    ]
    if apart:
        bad["decision.planted"] = f"{len(apart)} planted copies outside their source's component"

    m = _SUMMARY.search(stdout)
    kept = sum(1 for r in dec if r["keep"])
    if m is None or (int(m[1]), int(m[2]), int(m[3])) != (len(text_len), len(pairs), kept):
        bad["summary.counts"] = f"printed {m[0] if m else stdout.strip()!r}"
    return bad
