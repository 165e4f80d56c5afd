"""The workloads as closed-loop job streams.

A job is one ``cli.main([...])`` call, or, for checks the CLI does not
expose, one call into the operator's public function plus the action that
materializes its full result. Each job returns a raw result; its ``check``
compares that result with the oracle and returns mismatch descriptions.
A result that cannot be read at all raises ``Malformed``.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from oracle import (
    DAY_SQL,
    Oracle,
    check_close_map,
    check_column_report,
    check_row_report,
)

PK_ARGS = ["--primary-keys", "conv_id,turn_idx"]


class Malformed(Exception):
    """The job returned something that is not a readable result."""


@dataclass
class Job:
    name: str
    run: Callable[[], object]
    check: Callable[[object], list]
    before: Callable[[], None] | None = None  # untimed preparation
    extra: dict = field(default_factory=dict)  # per-job facts for the trace


def run_cli(argv: list[str]) -> tuple[int, str]:
    """One CLI job; stdout is captured (the engine prints its report)."""
    from professional_services_data_validator_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    return rc, buf.getvalue()


def json_records(stdout: str) -> list[dict]:
    """The report the CLI printed with ``--format json``: the last stdout
    line that parses as a JSON list of records."""
    for line in reversed(stdout.splitlines()):
        try:
            recs = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(recs, list) and all(isinstance(r, dict) for r in recs):
            return recs
    raise Malformed(f"no JSON report on stdout: {stdout[-300:]!r}")


def _rc(got: int, want: int) -> list[str]:
    return [] if got == want else [f"exit code {got}, expected {want}"]


class Workload:
    """Base: owns the input set, the oracle's answers and a scratch
    directory. The answers are computed at construction, before the
    session starts; ``pass_jobs(spark)`` builds the jobs of one pass."""

    #: events replicas of the input set: 10,000 source-table turns each
    replicas = 5

    def __init__(self, paths: dict, oracle: Oracle, work: str):
        self.paths, self.oracle, self.work = paths, oracle, work
        self.n_turns = oracle.n_turns
        self.con = oracle.con
        os.makedirs(work, exist_ok=True)

    def out(self, name: str) -> str:
        return os.path.join(self.work, name)

    def reset(self, *names: str) -> None:
        for n in names:
            shutil.rmtree(self.out(n), ignore_errors=True)


class RowFull(Workload):
    """Full-table ``validate row --hash '*'`` with the O(rows) report written."""

    def __init__(self, *a):
        super().__init__(*a)
        self.bad, self.good = self.oracle.row_diff("source", "target")

    def pass_jobs(self, spark) -> list[Job]:
        out = self.out("report")
        argv = [
            "validate", "row", "--source-path", self.paths["source"],
            "--target-path", self.paths["target"], *PK_ARGS, "--hash", "*",
            "--output", out, "--format", "json",
        ]

        def check(res):
            rc, _ = res
            return _rc(rc, 1) + check_row_report(self.con, out, self.bad, self.good, job.extra)

        job = Job("row_full", lambda: run_cli(argv), check, lambda: self.reset("report"))
        return [job]


EXPECT_RULES = [
    {"kind": "not_null", "column": "conv_id", "name": "conv_not_null"},
    {"kind": "between", "column": "turn_idx", "lo": 0, "hi": 200, "name": "turn_range"},
    {"kind": "isin", "column": "role", "values": ["user", "assistant", "system", "tool"],
     "name": "role_enum"},
    {"kind": "matches_regex", "column": "text", "pattern": "^[a-z]+ ", "name": "text_shape"},
    {"kind": "custom_sql", "expr": "text NOT LIKE '%MUTATED%'", "threshold": 0.999,
     "name": "no_mutation"},
]


class ChecksSuite(Workload):
    """A rotation of short checks over the same source/target tables."""

    # its jobs' cost is mostly fixed per job, so a smaller table keeps the
    # pass short without changing what dominates
    replicas = 2

    def __init__(self, *a):
        super().__init__(*a)
        o = self.oracle
        gsrc = o.column_aggs("source", group=DAY_SQL)
        gtgt = o.column_aggs("target", group=DAY_SQL)
        self.grouped_expect = {
            k: (gsrc.get(k), gtgt.get(k)) for k in set(gsrc) | set(gtgt)
        }
        self.expect_fracs = o.expectation_fractions("target", EXPECT_RULES)
        self.uniq = o.uniqueness_by_bucket("target")
        self.orphans = o.orphans("target", "dim_conversations")
        day_ks = o.ks("length(text)", group=DAY_SQL)
        day_psi = o.psi("role", group=DAY_SQL)
        self.day_drift = {g: (*day_ks[g], day_psi[g]) for g in day_ks}
        self.rules_path = self.out("rules.json")
        with open(self.rules_path, "w") as f:
            json.dump(EXPECT_RULES, f)

    def _sides(self) -> list[str]:
        return ["--source-path", self.paths["source"], "--target-path", self.paths["target"]]

    def pass_jobs(self, spark) -> list[Job]:
        from pyspark.sql import functions as F

        from professional_services_data_validator_spark.operators import (
            drift,
            referential,
            uniqueness,
        )

        read = spark.read.parquet
        p = self.paths

        def cli_job(name, argv, rc, checker):
            def check(res):
                code, stdout = res
                recs = json_records(stdout)
                job.extra["report_rows"] = len(recs)
                return _rc(code, rc) + checker(recs)

            job = Job(name, lambda: run_cli(argv + ["--format", "json"]), check)
            return job

        def differs(expect):
            return int(any(a != b for a, b in expect.values()))

        grouped = cli_job(
            "grouped_column",
            ["validate", "column", *self._sides(), "--count", "*", "--sum", "turn_idx",
             "--min", "turn_idx", "--max", "turn_idx", "--grouped-columns", "ts"],
            differs(self.grouped_expect),
            lambda r: check_column_report(r, self.grouped_expect, ("source", "target")),
        )

        def schema_check(recs):
            names = {r["validation_name"]: r["validation_status"] for r in recs}
            want = {c: "success" for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
            return [] if names == want else [f"schema report {names}"]

        schema = cli_job("schema", ["validate", "schema", *self._sides()], 0, schema_check)

        def expect_check(recs):
            got = {r["rule_name"]: r["observed"] for r in recs}
            # the engine reports fractions rounded to 6 places
            return check_close_map(got, self.expect_fracs, "expect", tol=1e-6)

        expect = cli_job(
            "expect",
            ["expect", "--source-path", p["target"], "--rules", self.rules_path],
            int(any(
                round(self.expect_fracs[r["name"]], 6) < r.get("threshold", 1.0)
                for r in EXPECT_RULES
            )),
            expect_check,
        )

        keys = ["conv_id", "turn_idx"]

        def uniq_run():
            df = uniqueness.uniqueness_verdict(
                read(p["target"]), keys, partition_col=F.substring("conv_id", 1, 5)
            )
            return df.collect()

        def uniq_check(rows):
            got = {r["partition_id"]: (r["n_keys"], r["n_dup_keys"]) for r in rows}
            return check_close_map(got, self.uniq, "uniqueness")

        def ref_run():
            return referential.referential_violations(
                read(p["target"]), read(p["dim_conversations"]), "conv_id"
            ).collect()

        def ref_check(rows):
            got = {(r["conv_id"], r["turn_idx"]) for r in rows}
            if len(got) != len(rows):
                return ["duplicate orphan rows"]
            return [] if got == self.orphans else [
                f"orphans: got {len(got)}, expected {len(self.orphans)}"
            ]

        def day_drift_run():
            return drift.drift_grouped(
                read(p["source"]), read(p["target"]),
                F.date_format("ts", "yyyy-MM-dd"), F.length("text"), F.col("role"),
            ).collect()

        def day_drift_check(rows):
            got = {
                r["group_key"]: (r["ks_stat"], r["n_source"], r["n_target"], r["psi"])
                for r in rows
            }
            return check_close_map(got, self.day_drift, "grouped drift")

        return [
            grouped, schema, expect,
            Job("uniqueness", uniq_run, uniq_check),
            Job("referential", ref_run, ref_check),
            Job("grouped_drift", day_drift_run, day_drift_check),
        ]


WORKLOADS = {
    "row_full": RowFull,
    "checks_suite": ChecksSuite,
}
