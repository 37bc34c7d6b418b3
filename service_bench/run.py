"""Service benchmark: one named workload, one seed, one measured window.

    python3 service_bench/run.py --workload mixed_service --seed 1 --seconds 20 --trace 0

Run from the repository root: the program (``g_data_pipeline_spark``) is
imported from the current directory. The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run (spans written to ``.service_bench_runs/spans/``).
The line before it is a human-readable report with the workload-specific
names and the counts behind each figure. NOTES.md maps metrics to layers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RUNS_DIR = ".service_bench_runs"
# The traced layers must account for process_job: its own self time (what
# no wrapped call covers) stays below this share of its duration.
PROCESS_JOB_SELF_SHARE_MAX = 0.05


def _args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["mixed_service", "corpus_dedup"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _pin_environment(work: str) -> None:
    """Everything the run writes stays under ``work``; the session gets
    every CPU this process may use and a bounded driver heap."""
    ncpu = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{min(3072, mem_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


class Context:
    """What a workload gets: the session, the tracer and a work directory."""

    def __init__(self, work: str, tracer):
        self.work = work
        self.tracer = tracer
        self.spark = None

    def start_session(self) -> None:
        from g_data_pipeline_spark import session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Dderby.system.home={os.path.join(self.work, 'derby')}"
            ),
        }
        with self.tracer.span("session.get_spark") as s:
            self.spark = session.get_spark("service-bench", extra_conf=conf)
        self.get_spark_s = (s.end - s.start) if s is not None else 0.0

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - fall back to killing it
                proc.kill()
                proc.wait(timeout=10)


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def end_to_end(wl, sampler) -> tuple[dict, dict]:
    """(contract metrics, workload-named report)."""
    run = wl.run
    report = wl.named_metrics()
    attempted = len(run.ops)
    report["setup_s"] = (run.setup_s, "s", 1)
    report["failed_frac"] = (sum(not o.ok for o in run.ops) / max(1, attempted),
                             "ratio", attempted)
    report["peak_rss_mb"] = (sampler.peak_rss_mb, "MB", 1)
    metrics = {
        name: (None if report[key][0] is None else report[key][0] * scale, unit)
        for name, (key, scale, unit) in wl.CONTRACT.items()
    }
    metrics["setup_s"] = (run.setup_s, "s")
    return metrics, report


def per_layer(wl, ctx, cpu_util: float, peak_rss_mb: float, counts0: dict,
              bookkeeping0: float) -> tuple[dict, dict]:
    """Per-layer metrics from the spans that started in the window."""
    from tracing import completed_tasks, self_times
    from workloads import pct

    run = wl.run
    tr = ctx.tracer
    spans = tr.spans
    win = [s for s in spans if s.start >= run.window_start]
    selfs = self_times(spans)

    def calls(span_name):
        return [s for s in win if s.name == span_name]

    def mean_s(span_name, self_time=False):
        c = calls(span_name)
        if not c:
            return 0.0
        return sum(selfs[s.id] if self_time else s.end - s.start for s in c) / len(c)

    counts = {k: tr.counts.get(k, 0.0) - counts0.get(k, 0.0) for k in tr.counts}

    def ratio(num, den):
        return counts.get(num, 0.0) / den if den else 0.0

    tracker = ctx.spark.sparkContext.statusTracker()
    query_traces = {s.trace for s in calls("service.query")}
    query_jobs = sum(len(tracker.getJobIdsForGroup(f"t{t}")) for t in query_traces)
    prof = [jobs for t, jobs in tr.profile_jobs if t >= run.window_start]
    prof_calls = len(prof)
    prof_jobs = sum(len(jobs) for jobs in prof)
    prof_tasks = sum(completed_tasks(tracker, jobs) for jobs in prof)
    from g_data_pipeline_spark.operators.runprofile import executed_metrics, run_summary

    plans = [p for t, p in tr.query_plans if t in query_traces]
    scanned = [run_summary(executed_metrics(p))["rows_scanned"] for p in plans]
    turns = [o for o in run.ops if o.in_window and o.kind == "turn"]
    batches = [o for o in run.ops if o.in_window and o.kind == "batch" and o.ok]
    waits = [w for t, w in tr.queue_waits if t >= run.window_start]
    nl_attempts = len(calls("nl.parse_llm_response"))
    n_queries = len(query_traces)

    def per_batch(key):
        return sum(o.info.get(key, 0) for o in batches) / len(batches) if batches else 0.0

    lat = [o.latency * 1e3 for o in run.ops if o.in_window and o.ok and o.kind == wl.PRIMARY]
    m = {
        "session.get_spark_s": (ctx.get_spark_s, "s"),
        "proc.cpu_util": (cpu_util, "ratio"),
        "proc.peak_rss_mb": (peak_rss_mb, "MB"),
        "ingest.read_csv.s": (mean_s("ingest.read_csv"), "s"),
        "ingest.plan_coercions.s": (mean_s("ingest.plan_coercions"), "s"),
        "ingest.land_csv.self_s": (mean_s("ingest.land_csv", True), "s"),
        "ingest.coerced_cols_ratio": (ratio("coerce.coerced", counts.get("coerce.probed", 0)), "ratio"),
        "profiler.profile.s": (mean_s("profiler.profile"), "s"),
        "profiler.spark_jobs": (prof_jobs / prof_calls if prof_calls else 0.0, "count"),
        "profiler.spark_tasks": (prof_tasks / prof_calls if prof_calls else 0.0, "count"),
        "profiler.format_insights.s": (mean_s("profiler.format_insights"), "s"),
        "service.process_job.s": (mean_s("service.process_job"), "s"),
        "service.process_job.self_s": (mean_s("service.process_job", True), "s"),
        "nl.rule_based_translate.s": (mean_s("nl.rule_based_translate"), "s"),
        "nl.parse_llm_response.s": (mean_s("nl.parse_llm_response"), "s"),
        "nl.rule_fallback_ratio": (len(calls("nl.rule_based_translate")) / nl_attempts
                                   if nl_attempts else 0.0, "ratio"),
        "ir.from_json.s": (mean_s("ir.from_json"), "s"),
        "compiler.compile_query.s": (mean_s("compiler.compile_query"), "s"),
        "service.query.self_s": (mean_s("service.query", True), "s"),
        "service.query.rows_scanned": (sum(scanned) / len(scanned) if scanned else 0.0, "count"),
        "service.query.spark_jobs": (query_jobs / n_queries if n_queries else 0.0, "count"),
        "service.query.truncated_ratio": (sum(o.info.get("truncated", False) for o in turns)
                                          / len(turns) if turns else 0.0, "ratio"),
        "http_api.request.upload.s": (mean_s("http_api.request.upload"), "s"),
        "http_api.request.insights.s": (mean_s("http_api.request.insights"), "s"),
        "http_api.status_202_ratio": (run.extra.get("status_202_ratio", 0.0), "ratio"),
        "worker.queue_wait_s": (statistics.mean(waits) if waits else 0.0, "s"),
        "worker.queue_depth_max": (max((d for t, d in tr.queue_depths if t >= run.window_start),
                                       default=0), "count"),
        "storage.put_bytes.s": (mean_s("storage.put_bytes"), "s"),
        "storage.cache_get.s": (mean_s("storage.cache_get"), "s"),
        "jobstore.transition.s": (mean_s("jobstore.transition"), "s"),
        "service.insights_hit_ratio": (ratio("cache_get.hit", counts.get("cache_get.hit", 0)
                                             + counts.get("cache_get.miss", 0)), "ratio"),
        "pipelines.curate_documents.s": (mean_s("pipelines.curate_documents"), "s"),
        "dedup.minhash_lsh_pairs.s": (mean_s("dedup.minhash_lsh_pairs"), "s"),
        "dedup.pairs_found": (per_batch("pairs"), "count"),
        "pipelines.kept_ratio": (per_batch("kept_ratio"), "ratio"),
        "operators.rows_scanned": (per_batch("rows_scanned"), "count"),
        "operators.shuffle_bytes": (per_batch("shuffle_bytes"), "bytes"),
        "trace.latency_p50_ms": (pct(lat, 50) if lat else 0.0, "ms"),
        "trace.bookkeeping_ms_per_op": ((tr.bookkeeping_s - bookkeeping0) * 1e3
                                        / max(1, len(lat)), "ms"),
    }
    # The coverage check: the wrapped layers below process_job (ingest,
    # profiler, jobstore, storage) leave little of it unaccounted for.
    pj = calls("service.process_job")
    pj_total = sum(s.end - s.start for s in pj)
    pj_self_share = sum(selfs[s.id] for s in pj) / pj_total if pj_total else 0.0
    absent = sorted(k for k, (v, _) in m.items() if v == 0)
    notes = {
        "absent_zero_metrics": absent,
        "why_absent": ("the workload does not call these layers in its window"
                       if absent else ""),
        "process_job_spans": len(pj),
        "process_job_self_share": pj_self_share,
        "process_job_self_share_max": PROCESS_JOB_SELF_SHARE_MAX,
        "process_job_covered": pj_self_share <= PROCESS_JOB_SELF_SHARE_MAX,
        "spans_recorded": len(spans),
    }
    return m, notes


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main() -> int:
    args = _args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "g_data_pipeline_spark", "service.py")):
        print("service_bench: run from a checkout of the repository root "
              "(g_data_pipeline_spark/ not found here)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    # a terminated run still stops the JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, RUNS_DIR, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _pin_environment(work)

    from procmon import ProcSampler, calibration_s, host_steal_s
    from tracing import Tracer
    from workloads import WORKLOADS

    sampler = ProcSampler().start()
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(work, tracer)
    wl = WORKLOADS[args.workload](ctx, args.seed, args.seconds)
    phases = {}
    calib = [calibration_s()]
    t_phase = time.perf_counter()
    try:
        wl.generate()
        t_setup = time.perf_counter()
        phases["generate_s"] = t_setup - t_phase
        ctx.start_session()
        tracer.install(ctx.spark.sparkContext)
        wl.setup()
        wl.run.setup_s = time.perf_counter() - t_setup
        counts0 = dict(tracer.counts)
        bookkeeping0 = tracer.bookkeeping_s
        cpu0, steal0, t0 = sampler.cpu_s(), host_steal_s(), time.perf_counter()
        wl.window()
        cpu_util = (sampler.cpu_s() - cpu0) / ((time.perf_counter() - t0) * len(os.sched_getaffinity(0)))
        steal_s = host_steal_s() - steal0
        wl.stop()
        calib.append(calibration_s())
        t_verify = time.perf_counter()
        phases["after_window_s"] = t_verify - wl.run.window_end
        wl.verify()
        phases["verify_s"] = time.perf_counter() - t_verify
        run = wl.run
        if args.trace:
            metrics, notes = per_layer(wl, ctx, cpu_util, sampler.peak_rss_mb,
                                       counts0, bookkeeping0)
            spans_dir = os.path.join(root, RUNS_DIR, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            report = {"trace_notes": notes}
        else:
            metrics, named = end_to_end(wl, sampler)
            report = {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()}
        problems = [p for o in run.ops for p in o.problems][:10]
    finally:
        # each step runs even if one before it fails, so the JVM is stopped
        # and the work directory removed on every way out
        for step in (wl.stop, tracer.uninstall, ctx.stop_session, sampler.stop):
            try:
                step()
            except BaseException as exc:  # noqa: BLE001 - report, keep cleaning up
                print(f"service_bench: {step.__qualname__}: {exc!r}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(run.ops)
    failed = sum(not o.ok for o in run.ops)
    bad_values = [k for k, (v, _) in metrics.items() if v is None]
    result = {
        "correct": failed == 0 and not bad_values,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": None if k in bad_values else v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    report["workload"] = args.workload
    report["seed"] = args.seed
    report["window_s"] = round(run.window_end - run.window_start, 3)
    report["ops_in_window"] = sum(o.in_window for o in run.ops)
    report["phases"] = {k: round(v, 3) for k, v in phases.items()}
    report["total_s"] = round(time.perf_counter() - t_phase, 3)
    report["calibration_loop_s"] = [round(c, 4) for c in calib]
    report["host_steal_s_in_window"] = round(steal_s, 2)
    if problems:
        report["problems"] = problems
    if bad_values:
        report["missing_values"] = bad_values
    print("report " + json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
