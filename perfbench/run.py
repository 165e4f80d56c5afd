"""Job-level benchmark of the validation engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload row_full --seed 1 --seconds 20 --trace 0

One process, one long-lived ``local[nproc]`` session, one client running
jobs in a closed loop (the next job starts when the previous one returned).
Inputs come from ``gen.py`` (seeded) and every job's output is checked
against ``oracle.py``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "professional_services_data_validator_spark"

#: a job running longer than this is cancelled and counts as failed
JOB_TIMEOUT_S = 90
#: untimed passes before measuring: after one, the driver's JIT is still
#: cold and the next pass runs about 30 % slower than the ones after it
WARMUP_PASSES = 2
#: ceiling for the driver heap; below it, a quarter of total memory
DRIVER_MEM_CAP_MB = 2048

END_TO_END = {
    "setup_s": "s",
    "job_s_p50": "s",
    "turns_per_s": "turns/s",
    "peak_rss_mb": "MB",
    "ops_ok_frac": "ratio",
}

#: per-layer metric -> unit. Shares (``*_frac``) are of summed job wall time.
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "cli.driver_s": "s",
    "cli.spark_jobs": "count",
    "compiler.plan_s": "s",
    "compiler.exchanges": "count",
    "compiler.scans": "count",
    "row_compare.exec_frac": "ratio",
    "row_compare.join_passes": "count",
    "combiner.exec_frac": "ratio",
    "row_compare.shuffle_bytes_per_turn": "B/turn",
    "combiner.report_rows_per_turn": "rows/turn",
    "aggregates.exec_frac": "ratio",
    "uniqueness.exec_frac": "ratio",
    "referential.exec_frac": "ratio",
    "drift.exec_frac": "ratio",
    "schema.exec_frac": "ratio",
    "readers.bytes_read": "B",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "sinks.collect_rows": "rows",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.cpu_s": "s",
    "spark.busy_frac": "ratio",
    "spark.task_skew": "ratio",
    "trace.job_s_p50": "s",
    "trace.overhead_frac": "ratio",
}

#: exec-share metric -> tracer layers it sums (an expectations rule set is
#: evaluated as one aggregate pass)
EXEC_LAYERS = {
    "row_compare.exec_frac": {"row_compare"},
    "combiner.exec_frac": {"combiner"},
    "aggregates.exec_frac": {"aggregates", "expectations"},
    "uniqueness.exec_frac": {"uniqueness"},
    "referential.exec_frac": {"referential"},
    "drift.exec_frac": {"drift"},
    "schema.exec_frac": {"schema"},
}


def machine_fit() -> dict:
    """Settings derived from this machine, recorded with every result. The
    heap follows total memory, not the momentary free memory, so every run
    on one machine gets the same heap."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(ln.split()[1]) // 1024 for ln in f if ln.startswith("MemTotal:"))
    mem_mb = max(512, min(DRIVER_MEM_CAP_MB, total_mb // 4))
    return {"cores": cores, "master": f"local[{cores}]", "driver_mem": f"{mem_mb}m"}


class RssSampler:
    """Peak resident memory of the driver JVM (its kernel high-water mark)
    plus the peak summed resident memory of its Python worker daemon and
    workers, sampled from /proc. Other children of the JVM are not counted:
    a child forked to run a command reports the JVM's own pages until it
    execs."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval = pid, interval
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _status_kb(pid: int, field: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(field):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [], list(children.get(self.pid, ()))
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    @staticmethod
    def _is_python(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().startswith("python")
        except OSError:
            return False

    def sample(self) -> None:
        kb = sum(
            self._status_kb(p, "VmRSS:") for p in self._descendants() if self._is_python(p)
        )
        self.workers_peak_kb = max(self.workers_peak_kb, kb)

    @property
    def peak_kb(self) -> int:
        return self._status_kb(self.pid, "VmHWM:") + self.workers_peak_kb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def run_job(spark, tracer, job, seq: int) -> dict:
    """Run one job with its untimed preparation before it and the oracle
    check after it; returns the job's record."""
    if job.before:
        job.before()
    rec = {"name": job.name, "seq": seq, "failed": False, "errors": []}
    timer = threading.Timer(JOB_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    span = tracer.begin_job(str(seq), job.name) if tracer else None
    ov0 = tracer.overhead_s if tracer else 0.0
    timer.start()
    t0 = time.perf_counter()
    try:
        res = job.run()
    except (Exception, SystemExit):  # a job that raises counts as failed
        rec["failed"] = True
        rec["errors"].append(traceback.format_exc(limit=3))
        res = None
    finally:
        rec["wall_s"] = time.perf_counter() - t0
        timer.cancel()
        if span is not None:
            tracer.end_job(span)
            rec["span"] = span
    rec["overhead_s"] = (tracer.overhead_s - ov0) if tracer else 0.0
    if rec["wall_s"] >= JOB_TIMEOUT_S:
        rec["failed"] = True
        rec["errors"].append("timed out")
    if not rec["failed"]:
        from jobs import Malformed

        try:
            rec["mismatches"] = job.check(res)
        except (Malformed, KeyError, TypeError, ValueError) as exc:
            rec["failed"] = True
            rec["errors"].append(f"malformed result: {exc!r}")
    rec["extra"] = dict(job.extra)
    for msg in rec["errors"] + rec.get("mismatches", []):
        print(f"[{job.name} #{seq}] {msg}", file=sys.stderr)
    return rec


def kind_median_s(measured) -> float:
    """Geometric mean over job kinds of each kind's median wall time, so a
    change to any one kind moves it, whatever its rank among the others."""
    by_kind: dict[str, list] = {}
    for r in measured:
        by_kind.setdefault(r["name"], []).append(r["wall_s"])
    return statistics.geometric_mean(statistics.median(v) for v in by_kind.values())


def end_to_end(setup_s, measured, n_turns, peak_kb) -> dict:
    times = [r["wall_s"] for r in measured]
    ok = [r for r in measured if not r["failed"]]
    return {
        "setup_s": setup_s,
        "job_s_p50": kind_median_s(measured),
        "turns_per_s": n_turns * len(ok) / sum(times),
        "peak_rss_mb": peak_kb / 1024.0,
        "ops_ok_frac": len(ok) / len(measured),
    }


def per_layer(tracer, warm, measured, n_turns, session_start_s, cores) -> dict:
    """Per-layer metrics of the measured jobs, from the tracer's spans and
    the status-store counters recorded per job. Seconds and counts are per
    job; ``*_frac`` shares are of summed job wall time."""
    from spans import union_seconds

    spans = tracer.spans
    n = len(measured)
    wall = sum(r["wall_s"] for r in measured)
    turns = n_turns * n
    by_job: dict[str, list] = {}
    for s in spans:
        by_job.setdefault(s.job, []).append(s)

    def job_spans(r):
        return by_job.get(str(r["seq"]), [])

    def busy(keep):
        return sum(
            union_seconds([(s.start, s.end) for s in job_spans(r) if keep(s)])
            for r in measured
        )

    def layer_busy(layers):
        return busy(lambda s: s.layer in layers)

    def stage_sum(key, ranges):
        sids = set()
        for lo, hi in ranges:
            sids.update(range(lo, hi))
        return sum(tracer.stages.get(sid, {}).get(key, 0) for sid in sids)

    job_ranges = [(spans[r["span"]].s_lo, spans[r["span"]].s_hi) for r in measured]
    m = {"session.start_s": session_start_s}
    by_kind: dict[str, list] = {}
    for r in measured:
        by_kind.setdefault(r["name"], []).append(r["wall_s"])
    extra = [
        r["wall_s"] - statistics.median(by_kind[r["name"]])
        for r in warm
        if r["name"] in by_kind
    ]
    m["session.warm_s"] = statistics.mean(extra) if extra else 0.0
    driver = 0.0
    for r in measured:
        sp = spans[r["span"]]
        ivs = []
        for jid in range(sp.j_lo, sp.j_hi):
            s, e = tracer.spark_jobs.get(jid, (None, None))
            if s is not None and e is not None:
                ivs.append((max(s, sp.start), min(e, sp.end)))
        driver += (sp.end - sp.start) - union_seconds([iv for iv in ivs if iv[1] > iv[0]])
    m["cli.driver_s"] = driver / n
    m["cli.spark_jobs"] = sum(
        spans[r["span"]].j_hi - spans[r["span"]].j_lo for r in measured
    ) / n
    m["compiler.plan_s"] = layer_busy({"compiler"}) / n
    plans = [tracer.plans.get(str(r["seq"]), {}) for r in measured]
    m["compiler.exchanges"] = sum(p.get("exchanges", 0) for p in plans) / n
    m["compiler.scans"] = sum(p.get("scans", 0) for p in plans) / n
    for name, layers in EXEC_LAYERS.items():
        m[name] = layer_busy(layers) / wall
    m["row_compare.join_passes"] = sum(
        s.joins for r in measured for s in job_spans(r)
    ) / n
    row_ranges = [
        (s.s_lo, s.s_hi)
        for r in measured
        for s in job_spans(r)
        if s.layer in EXEC_LAYERS["row_compare.exec_frac"]
    ]
    m["row_compare.shuffle_bytes_per_turn"] = stage_sum("shuffle_write", row_ranges) / turns
    m["combiner.report_rows_per_turn"] = sum(
        r["extra"].get("report_rows", 0) for r in measured
    ) / turns
    m["readers.bytes_read"] = stage_sum("input", job_ranges) / n
    m["sinks.write_s"] = layer_busy({"sinks"}) / n
    m["sinks.bytes_written"] = stage_sum("output", job_ranges) / n
    m["sinks.collect_rows"] = sum(s.rows for r in measured for s in job_spans(r)) / n
    m["spark.tasks"] = stage_sum("tasks", job_ranges) / n
    m["spark.shuffle_write_bytes"] = stage_sum("shuffle_write", job_ranges) / n
    m["spark.spill_bytes"] = stage_sum("spill", job_ranges) / n
    m["spark.gc_s"] = stage_sum("gc_ms", job_ranges) / 1000.0 / n
    m["spark.cpu_s"] = stage_sum("cpu_ns", job_ranges) / 1e9 / n
    m["spark.busy_frac"] = stage_sum("run_ms", job_ranges) / 1000.0 / (wall * cores)
    skews = []
    for lo, hi in job_ranges:
        stages = [tracer.stages.get(s, {}) for s in range(lo, hi)]
        stages = [s for s in stages if s]
        if stages:
            skews.append(max(stages, key=lambda s: s["run_ms"])["skew"])
    m["spark.task_skew"] = statistics.median(skews) if skews else 1.0
    m["trace.job_s_p50"] = kind_median_s(measured)
    m["trace.overhead_frac"] = sum(r["overhead_s"] for r in measured) / wall
    return m


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    workers it started) to exit: the JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def result_line(correct, attempted, failed, metrics, units) -> str:
    """The result record; refuses anything but a complete, finite metric
    set so a partial record is never reported as a result."""
    missing = set(units) - set(metrics)
    bad = [k for k, v in metrics.items() if not isinstance(v, (int, float)) or not math.isfinite(v)]
    if missing or bad or attempted < 1:
        raise SystemExit(
            f"incomplete result: missing={sorted(missing)} non-finite={bad} "
            f"attempted={attempted}"
        )
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen
    import jobs
    from oracle import Oracle

    if args.workload not in jobs.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl_cls = jobs.WORKLOADS[args.workload]
    fit = machine_fit()
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_DRIVER_MEM": fit["driver_mem"],
        "SPARK_GRAFT_CPUS": str(fit["cores"]),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        # no hsperfdata file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    })

    # input generation and the oracle's answers are not part of set-up time
    t_inputs = time.time()
    paths = gen.write_inputs(os.path.join(work, "inputs"), args.seed, wl_cls.replicas)
    wl = wl_cls(paths, Oracle(paths), os.path.join(run_dir, "out"))
    t_inputs = time.time() - t_inputs

    sys.path.insert(0, ROOT)
    from professional_services_data_validator_spark import get_spark

    t0 = time.time()
    spark = get_spark(
        "perfbench", master=fit["master"],
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_start_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    print(f"perfbench: settings {json.dumps(fit)} turns={wl.n_turns}", file=sys.stderr)

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.install()
    try:
        with RssSampler(jvm_pid) as rss:
            pass_jobs = wl.pass_jobs(spark)
            warm = []
            for _ in range(WARMUP_PASSES):
                for job in pass_jobs:
                    warm.append(run_job(spark, tracer, job, len(warm)))
            setup_s = time.time() - T_START - t_inputs
            # whole passes until --seconds have elapsed, so every run
            # measures the same job mix
            measured = []
            deadline = time.perf_counter() + args.seconds
            while time.perf_counter() < deadline:
                for job in pass_jobs:
                    measured.append(run_job(spark, tracer, job, len(warm) + len(measured)))
            peak_kb = rss.peak_kb
        all_recs = warm + measured
        correct = not any(r.get("mismatches") for r in all_recs)
        failed = sum(r["failed"] for r in measured)
        if tracer:
            metrics = per_layer(
                tracer, warm[:len(pass_jobs)], measured, wl.n_turns, session_start_s,
                fit["cores"],
            )
            tracer.dump(os.path.join(work, f"trace-{args.workload}-s{args.seed}.json"))
            units = PER_LAYER
        else:
            metrics = end_to_end(setup_s, measured, wl.n_turns, peak_kb)
            units = END_TO_END
        summary = {
            "workload": args.workload, "seed": args.seed, "settings": fit,
            "turns": wl.n_turns, "jobs_measured": len(measured),
            "jobs_warmup": len(warm), "input_s": round(t_inputs, 3),
            "session_s": round(session_start_s, 3),
            "job_s": [[r["name"], round(r["wall_s"], 3)] for r in all_recs],
        }
        print(f"perfbench: {json.dumps(summary)}", file=sys.stderr)
        line = result_line(correct, len(measured), failed, metrics, units)
    finally:
        if tracer:
            tracer.uninstall()
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
