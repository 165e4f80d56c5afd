"""Span tracing from outside the program.

The tracer replaces the public functions of each layer module with wrappers
that record a span (name, layer, start, end, parent, job id) and the Spark
stage/job id range the call covered. DataFrame actions (``count``,
``collect``, ``toPandas``, ``first``, ``take`` and parquet/save writes) are
wrapped too: an action on a DataFrame that a layer function returned is a
span of that layer, so a lazy operator is charged for the execution of the
plan it built. Spark counters come from the session's status store
(``AppStatusStore``) after each job, once the listener bus has drained.

Spans stay in memory; ``Tracer.dump`` writes them out, with each span's self
time, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import time

PKG = "professional_services_data_validator_spark"

#: layer -> (module, public callables). ``Class.method`` wraps a method.
LAYERS = {
    "session": ("session", ["get_spark"]),
    "cli": ("cli", ["main"]),
    "compiler": ("plans.compiler", ["run_validation", "build_column_validation_report"]),
    "row_compare": (
        "operators.row_compare",
        ["row_compare", "row_violations", "row_compare_verdicts",
         "random_row_compare", "violation_rate_gate"],
    ),
    "combiner": ("combiner", ["generate_report"]),
    "aggregates": ("operators.aggregates", ["column_stats", "build_aggregate_specs"]),
    "expectations": ("operators.expectations", ["run_expectations"]),
    "uniqueness": ("operators.uniqueness", ["uniqueness_violations", "uniqueness_verdict"]),
    "referential": (
        "operators.referential",
        ["referential_violations", "referential_violations_large", "referential_verdict"],
    ),
    "drift": (
        "operators.drift",
        ["ks_statistic", "ks_binned", "psi", "psi_verdict", "drift_grouped",
         "drift_grouped_verdicts"],
    ),
    "schema": ("schema_validation", ["schema_validation_report", "schema_validation_matching"]),
    "sinks": ("sources.sinks", ["write_report", "report_to_text", "safe_collect"]),
}

#: layers whose returned DataFrames carry the operator's execution cost.
OPERATORS = {
    "row_compare", "aggregates", "expectations", "uniqueness", "referential",
    "drift", "schema",
}

ACTIONS = ("count", "collect", "toPandas", "first", "take")
WRITES = ("save", "parquet")


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "job", "s_lo", "s_hi",
                 "j_lo", "j_hi", "rows", "joins")

    def __init__(self, name, layer, start, parent, job, s_lo, j_lo):
        self.name, self.layer, self.start = name, layer, start
        self.parent, self.job = parent, job
        self.s_lo, self.j_lo = s_lo, j_lo
        self.end = self.s_hi = self.j_hi = None
        self.rows = 0  # rows pulled to the driver by an action
        self.joins = 0  # PK full-outer joins executed by an action

    def as_dict(self, i: int) -> dict:
        return {
            "id": i, "name": self.name, "layer": self.layer, "start": self.start,
            "end": self.end, "parent": self.parent, "job": self.job,
            "stages": [self.s_lo, self.s_hi], "spark_jobs": [self.j_lo, self.j_hi],
            "rows": self.rows, "joins": self.joins,
        }


def _plan_depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-|"))


def _plan_text(df) -> str:
    """Physical plan of ``df`` as text, planned on a projection: planning
    ``df`` itself would fix its lazily planned query before a later
    ``persist`` could substitute the cache into it."""
    return df.select("*")._jdf.queryExecution().executedPlan().toString()


def count_pk_joins(plan: str, seen_caches: set) -> int:
    """Full-outer joins on ``conv_id`` in a physical plan tree string.

    An executed adaptive plan prints its final and its initial plan; only
    the final one counts. The subtree of an ``InMemoryRelation`` counts only
    the first time that cache appears (the action that materializes it);
    later reads hit the cache. A cache is keyed by its line without
    expression ids, which each query that reads it renumbers."""
    n, skip_depth = 0, None
    for i, line in enumerate(plan.splitlines()):
        d = _plan_depth(line)
        if i and not d:
            continue  # a string literal's newline, not a node: nodes below the root are indented
        if skip_depth is not None:
            if d > skip_depth:
                continue
            skip_depth = None
        body = line.strip(" :+-|")
        if body.startswith("== Initial Plan =="):
            skip_depth = d - 1  # its nodes start at the header's column
        elif body.startswith("InMemoryRelation"):
            key = re.sub(r"#\d+", "", body)
            if key in seen_caches:
                skip_depth = d
            else:
                seen_caches.add(key)
        elif "FullOuter" in body and "conv_id" in body:
            n += 1
    return n


class Tracer:
    """Closed-loop tracer: one job at a time, one thread."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._gw = spark.sparkContext._gateway
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.job = None
        self.stages: dict[int, dict] = {}
        self.spark_jobs: dict[int, tuple] = {}
        self.plans: dict[str, dict] = {}  # job id -> compiler plan counts
        self.overhead_s = 0.0
        self._tags: dict[int, tuple] = {}
        self._seen_caches: set = set()
        self._restore: list[tuple] = []

    # -- span bookkeeping -------------------------------------------------

    def _ids(self):
        return self._dag.nextStageId(), self._dag.nextJobId()

    def open(self, name: str, layer: str) -> int:
        t0 = time.time()
        s, j = self._ids()
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, layer, time.time(), parent, self.job, s, j))
        self.stack.append(len(self.spans) - 1)
        self.overhead_s += time.time() - t0
        return self.stack[-1]

    def close(self, i: int) -> None:
        t0 = time.time()
        sp = self.spans[i]
        sp.end = time.time()
        sp.s_hi, sp.j_hi = self._ids()
        self.stack.pop()
        self.overhead_s += time.time() - t0

    def _tag(self, df, layer: str, args) -> None:
        from pyspark.sql import DataFrame

        if not isinstance(df, DataFrame):
            return
        inherited = next(
            (
                self._tags[id(a)][0]
                for a in args
                if isinstance(a, DataFrame)
                and id(a) in self._tags
                and self._tags[id(a)][0] in OPERATORS
            ),
            None,
        )
        cur = self._tags.get(id(df), (None,))[0]
        if inherited:
            new = inherited
        elif cur in OPERATORS:
            new = cur
        elif layer in OPERATORS:
            new = layer
        else:
            new = cur or layer
        self._tags[id(df)] = (new, df)  # keep df alive so its id stays unique

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            i = tracer.open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(i)
            t0 = time.time()
            tracer._tag(out, layer, list(args) + list(kwargs.values()))
            if name == "compiler.run_validation":
                tracer._count_plan(out)
            tracer.overhead_s += time.time() - t0
            return out

        return traced

    def _count_plan(self, df) -> None:
        """Exchange and file-scan nodes of the report's physical plan (the
        plan AQE starts executing)."""
        plan = _plan_text(df)
        rec = self.plans.setdefault(self.job, {"exchanges": 0, "scans": 0})
        rec["exchanges"] += sum("Exchange" in ln for ln in plan.splitlines())
        rec["scans"] += sum("FileScan" in ln for ln in plan.splitlines())

    def _action(self, fn, name: str, get_df):
        tracer = self

        @functools.wraps(fn)
        def traced(self_, *args, **kwargs):
            df = get_df(self_)
            layer = tracer._tags.get(id(df), ("action",))[0]
            i = tracer.open(f"action.{name}", layer)
            try:
                out = fn(self_, *args, **kwargs)
            finally:
                tracer.close(i)
                t0 = time.time()
                sp = tracer.spans[i]
                if isinstance(out, list):
                    sp.rows = len(out)
                elif hasattr(out, "shape"):
                    sp.rows = int(out.shape[0])
                elif out is not None and name in ("first",):
                    sp.rows = 1
                try:
                    sp.joins = count_pk_joins(_plan_text(df), tracer._seen_caches)
                except Exception:  # plan text is best effort; never fail a job
                    pass
                tracer.overhead_s += time.time() - t0
            return out

        return traced

    # -- install / uninstall ----------------------------------------------

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        pkg_mods = {}
        for layer, (mod, names) in LAYERS.items():
            m = importlib.import_module(f"{PKG}.{mod}")
            pkg_mods[mod] = m
            for qual in names:
                owner, attr = m, qual
                if "." in qual:
                    cls, attr = qual.split(".")
                    owner = getattr(m, cls)
                orig = getattr(owner, attr)
                wrapped = self.wrap(orig, f"{layer}.{attr}", layer)
                self._set(owner, attr, wrapped)
                if owner is m:  # rebind module-level aliases of the function
                    for name, other in list(sys.modules.items()):
                        if name.startswith(PKG) and other is not None and other is not m:
                            for k, v in list(vars(other).items()):
                                if v is orig:
                                    self._set(other, k, wrapped)
        for a in ACTIONS:
            self._set(DataFrame, a, self._action(getattr(DataFrame, a), a, lambda d: d))
        for w in WRITES:
            self._set(
                DataFrameWriter, w,
                self._action(getattr(DataFrameWriter, w), w, lambda wr: wr._df),
            )

    def _set(self, owner, attr, value) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._restore):
            setattr(owner, attr, value)
        self._restore.clear()

    # -- per job ----------------------------------------------------------

    def begin_job(self, job_id: str, name: str) -> int:
        self.job = job_id
        return self.open(f"job.{name}", "job")

    def end_job(self, i: int) -> None:
        self.close(i)
        t0 = time.time()
        sp = self.spans[i]
        self._bus.waitUntilEmpty()
        for sid in range(sp.s_lo, sp.s_hi):
            self.stages[sid] = self._stage(sid)
        for jid in range(sp.j_lo, sp.j_hi):
            self.spark_jobs[jid] = self._spark_job(jid)
        self._tags.clear()
        self._seen_caches.clear()
        self.job = None
        self.overhead_s += time.time() - t0

    def _stage(self, sid: int) -> dict:
        try:
            sd = self._store.lastStageAttempt(sid)
        except Exception:  # stage never submitted (skipped): no record
            return {}
        rec = {
            "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ns": sd.executorCpuTime(),
            "gc_ms": sd.jvmGcTime(),
            "shuffle_write": sd.shuffleWriteBytes(),
            "spill": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "input": sd.inputBytes(),
            "output": sd.outputBytes(),
            "attempt": sd.attemptId(),
        }
        rec["skew"] = self._skew(sid, rec["attempt"]) if rec["tasks"] > 1 else 1.0
        return rec

    def _skew(self, sid: int, attempt: int) -> float:
        q = self._gw.new_array(self._gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = self._store.taskSummary(sid, attempt, q)
        if not dist.isDefined():
            return 1.0
        rt = dist.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0

    def _spark_job(self, jid: int) -> tuple:
        try:
            jd = self._store.job(jid)
        except Exception:
            return (None, None)
        sub, comp = jd.submissionTime(), jd.completionTime()
        return (
            sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            comp.get().getTime() / 1000.0 if comp.isDefined() else None,
        )

    # -- output -----------------------------------------------------------

    def dump(self, path: str) -> None:
        """Write spans (each with its self time: its duration minus the part
        its child spans cover), stage counters and Spark job times."""
        children: dict[int, list] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        spans = []
        for i, sp in enumerate(self.spans):
            rec = sp.as_dict(i)
            rec["self_s"] = (sp.end - sp.start) - union_seconds(children.get(i, ()))
            spans.append(rec)
        with open(path, "w") as f:
            json.dump(
                {"spans": spans, "stages": self.stages, "spark_jobs": self.spark_jobs}, f
            )


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[0] is not None and iv[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
