"""bench_queries() must stay result-identical to queries() modulo row order.

The bench harness times unsorted variants of the headline queries (the
contract's trailing global orderBy exists only for deterministic oracle
comparison; see BASELINE.md). This guards against the two variants drifting
apart: same columns, same row multiset.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

DIFFERING = [
    n
    for n in entrymod.queries()
    if entrymod.bench_queries()[n] is not entrymod.queries()[n]
]


def test_bench_variants_exist():
    assert set(entrymod.bench_queries()) == set(entrymod.queries())
    assert DIFFERING  # the unsorted heavy queries must be overridden


@pytest.mark.parametrize("name", sorted(DIFFERING))
def test_bench_variant_matches_contract(name, spark):
    contract = entrymod.queries()[name](spark, SF_DIR)
    bench = entrymod.bench_queries()[name](spark, SF_DIR)
    assert contract.columns == bench.columns
    c_rows = sorted(tuple(map(str, r)) for r in contract.collect())
    b_rows = sorted(tuple(map(str, r)) for r in bench.collect())
    assert c_rows == b_rows


def test_suite_subprocess_accepts_only_a_result_record(monkeypatch):
    """A child's last stdout line counts as the suite result only when it is
    a record with the suite's keys; any other JSON value takes the raise
    path that shows the child's stderr."""
    import subprocess

    import bench

    def child(stdout):
        return lambda *a, **k: subprocess.CompletedProcess(a, 1, stdout, "boom")

    for line in ("42", '"done"', "[1, 2]", '{"value": 1.0}'):
        monkeypatch.setattr(subprocess, "run", child(f"log\n{line}\n"))
        with pytest.raises(RuntimeError, match="no parsable result line"):
            bench._run_suite_subprocess("local[1]", 1)
    rec = {"value": 1.5, "rows": 10}
    monkeypatch.setattr(subprocess, "run", child(json.dumps(rec) + "\n"))
    assert bench._run_suite_subprocess("local[1]", 1) == rec
