"""Self-tests for the benchmark: deterministic inputs, an oracle that catches
wrong answers, a result record that is always complete, and a traced run
that emits every per-layer metric BENCHMARK.json names.

Run from the repository root: ``python3 -m pytest perfbench -q``. The tests
marked ``slow`` start Spark (about a minute each).
"""

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spread  # noqa: E402
from oracle import Oracle, check_close_map, check_column_report, check_row_report  # noqa: E402
from spans import Span, Tracer, count_pk_joins  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_generator_is_deterministic_per_seed():
    a = gen.generate(7, 1)
    b = gen.generate(7, 1)
    c = gen.generate(8, 1)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not a["target"].equals(c["target"])
    assert a["source"].num_rows == gen.EVENTS_PER_REPLICA
    assert a["source"].equals(c["source"])  # the seed only places defects


def test_replicas_keep_the_conversation_shape():
    def lengths(table):
        return Counter(Counter(table.column("conv_id").to_pylist()).values())

    one, three = gen.generate(7, 1)["source"], gen.generate(7, 3)["source"]
    assert lengths(three) == Counter({n: 3 * k for n, k in lengths(one).items()})


def _write_report(path, fail, good):
    rows = [("fail", json.dumps({"conv_id": c, "turn_idx": str(i)})) for c, i in fail]
    rows += [("success", json.dumps({"conv_id": f"g{k}", "turn_idx": "0"})) for k in range(good)]
    for status in ("fail", "success"):
        part = [g for s, g in rows if s == status]
        d = os.path.join(path, f"validation_status={status}")
        os.makedirs(d)
        pq.write_table(pa.table({"group_by_columns": part}), os.path.join(d, "part-0.parquet"))


def test_oracle_catches_a_planted_wrong_answer(tmp_path):
    paths = gen.write_inputs(str(tmp_path / "in"), 3, 1)
    bad, good = Oracle(paths).row_diff("source", "target")
    assert bad and good
    con = duckdb.connect()
    right, wrong = str(tmp_path / "right"), str(tmp_path / "wrong")
    _write_report(right, bad, good)
    planted = set(bad)
    planted.pop()
    _write_report(wrong, planted, good + 1)
    facts = {}
    assert check_row_report(con, right, bad, good, facts) == []
    assert facts["report_rows"] == len(bad) + good
    assert check_row_report(con, wrong, bad, good, {})

    recs = [{"validation_name": "count", "source_agg_value": "10",
             "target_agg_value": "9", "group_by_columns": None}]
    assert check_column_report(recs, {"count": (10, 9)}, ("s", "t")) == []
    assert check_column_report(recs, {"count": (10, 8)}, ("s", "t"))
    assert check_close_map({None: 0.25}, {None: 0.25}, "ks") == []
    assert check_close_map({None: 0.2500001}, {None: 0.25}, "ks")


def test_count_pk_joins_skips_initial_plan_and_cache_reads():
    plan = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   +- SortMergeJoin [conv_id#1], [conv_id#2], FullOuter",
        "      :- InMemoryTableScan [a#1]",
        "      :     +- InMemoryRelation [a#1], StorageLevel(disk)",
        "      :           +- Project [concat(x, '",  # a string literal's newline
        "', y) AS g#5]",
        "      :              +- ShuffledHashJoin [conv_id#9], [conv_id#10], FullOuter",
        "+- == Initial Plan ==",
        "   SortMergeJoin [conv_id#1], [conv_id#2], FullOuter",
    ])
    seen = set()
    assert count_pk_joins(plan, seen) == 2
    # the same cache read again, renumbered by another query: not a pass
    assert count_pk_joins(plan.replace("a#1", "a#77"), seen) == 1


def test_dump_records_self_time(tmp_path):
    tracer = Tracer.__new__(Tracer)  # no session needed to write spans
    tracer.stages, tracer.spark_jobs = {}, {}
    spans = [Span("job", "job", 0.0, None, "1", 0, 0),
             Span("a", "x", 2.0, 0, "1", 0, 0), Span("b", "y", 4.0, 0, "1", 0, 0)]
    for sp, end in zip(spans, (10.0, 5.0, 6.0)):
        sp.end = end
    tracer.spans = spans
    tracer.dump(str(tmp_path / "t.json"))
    with open(tmp_path / "t.json") as f:
        got = [s["self_s"] for s in json.load(f)["spans"]]
    assert got == [6.0, 3.0, 2.0]  # the children overlap on [4, 5]


def test_benchmark_json_names_every_reported_metric():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    assert max(bounds.values()) <= 0.25
    assert bounds["setup_s"] == max(bounds.values())
    import jobs

    assert {w["name"] for w in BENCH["workloads"]} <= set(jobs.WORKLOADS)


def test_job_time_is_the_geometric_mean_of_kind_medians():
    recs = [{"name": "a", "wall_s": t} for t in (1.0, 3.0, 2.0)]
    recs += [{"name": "b", "wall_s": 8.0}]
    assert run.kind_median_s(recs) == pytest.approx(4.0)


def test_incomplete_results_are_refused():
    units = {"a": "s", "b": "s"}
    with pytest.raises(SystemExit):
        run.result_line(True, 3, 0, {"a": 1.0}, units)
    with pytest.raises(SystemExit):
        run.result_line(True, 3, 0, {"a": 1.0, "b": float("nan")}, units)
    with pytest.raises(SystemExit):
        run.result_line(True, 0, 0, {"a": 1.0, "b": 2.0}, units)
    assert json.loads(run.result_line(True, 3, 0, {"a": 1.0, "b": 2.0}, units))["attempted"] == 3
    # a stray scalar as the last line is not a result, and says why
    with pytest.raises(SystemExit, match="stderr tail"):
        spread.parse_result("123\n", "boom", units)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        BENCH["command"] + ["--workload", "row_full", "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()


@pytest.mark.slow
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_emits_every_per_layer_metric(workload):
    p = subprocess.run(
        BENCH["command"] + ["--workload", workload, "--seed", "11", "--seconds", "1",
                            "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    names = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    rec = spread.parse_result(p.stdout, p.stderr, names)
    assert rec["failed"] == 0 and rec["attempted"] >= 1
