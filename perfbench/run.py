"""Benchmark of inspectehr_spark on local[4], one process, one client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: registry-sf0.01 and pipeline-resume (see perfbench/README.md
for what each measures and why). A run sets up Spark, measures whole passes
of the workload, each in a fresh session, until about S seconds are used
(at least one), checks the outputs, and prints one JSON object as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 a traced pass follows
the measured one and the metrics are the per-layer ones. All other output
(Spark's included) goes to stderr; details go to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

import eventlog
import harness

WORKLOADS = ("registry-sf0.01", "pipeline-resume")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rest_ops_s": "s",
    "items_per_s": "1/s",
    "heap_retained_mb": "MB",
}

PER_LAYER = {
    "session.cold_start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "registry.self_s": "s",
    "registry.construct_s": "s",
    "registry.plan_s": "s",
    "registry.execute_s": "s",
    "registry.construct_jobs": "count",
    "registry.jobs": "count",
    "registry.stages": "count",
    "registry.tasks": "count",
    "registry.shuffle_write_bytes": "bytes",
    "registry.shuffle_read_bytes": "bytes",
    "registry.spill_bytes": "bytes",
    "registry.gc_s": "s",
    "registry.python_bytes_sent": "bytes",
    "registry.cached_rdds_left": "count",
    "registry.queries_under_cache": "count",
    "models.self_s": "s",
    "models.task_s": "s",
    "models.python_run_s": "s",
    "models.python_bytes_sent": "bytes",
    "models.python_bytes_received": "bytes",
    "pipeline.self_s": "s",
    "pipeline.probe_s": "s",
    "pipeline.decisions_s": "s",
    "pipeline.failures_s": "s",
    "pipeline.metrics_s": "s",
    "pipeline.count_s": "s",
    "pipeline.manifest_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.gc_s": "s",
    "pipeline.dup_shuffle_write_bytes": "bytes",
    "pipeline.scan_amplification": "ratio",
    "pipeline.late_rows_dropped": "count",
    "pipeline.cross_increment_dups": "count",
    "pipeline.url_failed_frac": "ratio",
    "snapshots.self_s": "s",
    "snapshots.write_s": "s",
    "snapshots.commit_s": "s",
    "snapshots.latest_extra_s": "s",
    "snapshots.manifest_bytes": "bytes",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
}

PIPELINE_TIMINGS = {
    "pipeline.probe_s": "t_probe",
    "pipeline.decisions_s": "t_decisions",
    "pipeline.failures_s": "t_failures",
    "pipeline.metrics_s": "t_metrics",
    "pipeline.count_s": "t_count",
    "pipeline.manifest_s": "t_manifest",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _latest_manifest_bytes(out_dir: str) -> int:
    mdir = os.path.join(out_dir, "_manifests")
    best = max(
        (int(n[1:-5]) for n in os.listdir(mdir) if n.startswith("v") and n.endswith(".json")),
        default=None,
    )
    return 0 if best is None else os.path.getsize(os.path.join(mdir, f"v{best}.json"))


class Workload:
    """Inputs, one measured pass, its check, and its traced pass."""

    def __init__(self, name: str, seed: int) -> None:
        self.name = name
        self.labels = None
        if name == "registry-sf0.01":
            import registry_wl

            self.mod = registry_wl
            self.qs, self.registry_order_unchanged = registry_wl.queries()
        else:
            import pipeline_wl

            self.mod = pipeline_wl
            self.runs = pipeline_wl.corpus_runs(seed)
            self.labels = pipeline_wl.Labels(seed)

    @property
    def is_registry(self) -> bool:
        return self.name == "registry-sf0.01"

    def run_pass(self, spark, tag: str, tracer=None) -> dict:
        """{"ops": [wall_s...], "items": n, "names": [...], ...}"""
        if self.is_registry:
            if tracer is None:
                recs = self.mod.run_pass(spark, self.qs)
            else:
                recs = self.mod.traced_pass(spark, self.qs, tracer)
            return {
                "ops": [r["wall_s"] for r in recs],
                "names": [r["name"] for r in recs],
                "items": len(recs),
                "records": recs,
            }
        res = self.mod.run_pass(spark, self.runs, tag, tracer)
        res["ops"] = [c["wall_s"] for c in res["calls"]]
        res["items"] = sum(c["rows"] for c in res["calls"])
        return res

    def job_counts(self, tracer: harness.Tracer, traced: dict) -> tuple[int, int, int]:
        """(jobs, stages, tasks) the traced pass started in this layer."""
        if self.is_registry:
            return tracer.job_counts("registry:" + n for n in traced["names"])
        return tracer.job_counts(sorted(tracer.groups_used))

    def close(self) -> None:
        if self.labels is not None:
            self.labels.close()

    def verify(self, spark, res: dict) -> dict:
        if self.is_registry:
            return self.mod.verify(res["records"], self.qs)
        return self.mod.verify(spark, res, self.labels)


def end_to_end(passes: list[dict], sessions: harness.Sessions, mem: dict) -> dict:
    """rest_ops_s leaves out a pass's first operation (the first query of a
    fresh session, or the batch run): the other queries, or the resumed
    runs. They are summed, not summarised by a median: the registry's
    queries differ too much for their median to be steady."""
    items = sum(p["items"] for p in passes)
    return {
        "setup_s": sessions.setup_s,
        "wall_s": statistics.median(sum(p["ops"]) for p in passes),
        "rest_ops_s": statistics.median(sum(p["ops"][1:]) for p in passes),
        "items_per_s": items / sum(sum(p["ops"]) for p in passes),
        "heap_retained_mb": mem["heap_retained_mb"],
    }


def per_layer(wl: Workload, measured: dict, baseline: dict, traced: dict, check: dict,
              tracer: harness.Tracer, counts: tuple[int, int, int],
              stages: list[dict], sessions: harness.Sessions, mem: dict) -> dict:
    m = {k: 0.0 for k in PER_LAYER}
    m["session.cold_start_s"] = sessions.cold_start_s
    m["session.jvm_peak_rss_mb"] = mem["peak_rss_mb"]
    m["trace.overhead_s"] = sum(traced["ops"]) - sum(baseline["ops"])
    selfs = tracer.self_seconds()
    jobs, n_stages, tasks = counts
    if wl.is_registry:
        recs = traced["records"]
        ev = eventlog.totals(stages, lambda g: g.startswith("registry:"))
        held = [r["cached_rdds"] for r in recs]
        m.update(
            {
                "registry.self_s": selfs.get("registry", 0.0),
                "registry.construct_s": sum(r["construct_s"] for r in recs),
                "registry.plan_s": sum(r["plan_s"] for r in recs),
                "registry.execute_s": sum(r["execute_s"] for r in recs),
                "registry.construct_jobs": sum(r["construct_jobs"] for r in recs),
                "registry.jobs": jobs,
                "registry.stages": n_stages,
                "registry.tasks": tasks,
                "registry.shuffle_write_bytes": ev["shuffle_write_bytes"],
                "registry.shuffle_read_bytes": ev["shuffle_read_bytes"],
                "registry.spill_bytes": ev["spill_bytes"],
                "registry.gc_s": ev["gc_s"],
                "registry.python_bytes_sent": ev["python_bytes_sent"],
                "registry.cached_rdds_left": held[-1],
                "registry.queries_under_cache": sum(1 for h in held[:-1] if h > 0),
            }
        )
        return m

    def in_pipeline(g: str) -> bool:
        return g.startswith(("pipeline.", "snapshots."))

    ev = eventlog.totals(stages, in_pipeline)
    model_stages = [s for s in stages if s["group"] and in_pipeline(s["group"]) and s["python_bytes_sent"] > 0]
    rows = sum(c["rows"] for c in traced["calls"])
    _, in_bytes = harness.tree_bytes(measured["inp"])
    files, sink_bytes = harness.tree_bytes(measured["out"])
    for metric, key in PIPELINE_TIMINGS.items():
        m[metric] = sum(c["timings"].get(key, 0.0) for c in traced["calls"])
    m.update(
        {
            "models.self_s": selfs.get("models", 0.0),
            "models.task_s": sum(s["run_s"] for s in model_stages),
            "models.python_run_s": sum(s["python_run_s"] for s in model_stages),
            "models.python_bytes_sent": sum(s["python_bytes_sent"] for s in model_stages),
            "models.python_bytes_received": sum(s["python_bytes_received"] for s in model_stages),
            "pipeline.self_s": selfs.get("pipeline.run", 0.0),
            "pipeline.jobs": jobs,
            "pipeline.stages": n_stages,
            "pipeline.tasks": tasks,
            "pipeline.gc_s": ev["gc_s"],
            "pipeline.dup_shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in model_stages),
            "pipeline.scan_amplification": ev["input_records"] / rows if rows else 0.0,
            "pipeline.late_rows_dropped": check["late_rows"],
            "pipeline.cross_increment_dups": check["cross_run_dups"],
            "pipeline.url_failed_frac": check["url_failed_frac"],
            "snapshots.self_s": sum(v for k, v in selfs.items() if k.startswith("snapshots.")),
            "snapshots.write_s": tracer.total_seconds("snapshots.write"),
            "snapshots.commit_s": tracer.total_seconds("snapshots.commit"),
            "snapshots.latest_extra_s": tracer.total_seconds("snapshots.latest_extra"),
            "snapshots.manifest_bytes": _latest_manifest_bytes(measured["out"]),
            "sinks.bytes_written": sink_bytes,
            "sinks.files_written": files,
            "sinks.bytes_per_input_byte": sink_bytes / in_bytes,
        }
    )
    return m


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    harness.prepare_dirs()
    wl = Workload(workload, seed)
    sessions = harness.Sessions()
    detail: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace}
    try:
        log("inputs ready; setting up Spark")
        spark = sessions.setup(wl.labels.wait if wl.labels else None)
        log(f"set-up done ({sessions.setup_samples}); measuring")
        passes: list[dict] = []
        t_start = time.perf_counter()
        while True:
            passes.append(wl.run_pass(spark, f"p{len(passes)}"))
            used = time.perf_counter() - t_start
            if used + used / len(passes) > seconds:
                break
            spark = sessions.restart()
        mem = {
            "peak_rss_mb": sessions.jvm_peak_rss_mb(),
            "heap_retained_mb": sessions.jvm_heap_retained_mb(),
        }
        log(f"measured {len(passes)} pass(es); checking outputs")
        check = wl.verify(spark, passes[0])
        log("checked")
        metrics = end_to_end(passes, sessions, mem)
        detail["memory"] = mem
        detail["setup_samples_s"] = sessions.setup_samples
        if wl.is_registry:
            detail["registry_order_unchanged"] = wl.registry_order_unchanged
        detail["passes"] = [
            {"ops_s": p["ops"], "names": p.get("names"), "items": p["items"]} for p in passes
        ]
        if trace:
            # The measured pass ran on a cold JVM, so the tracing overhead is
            # taken against an untraced comparison pass in a fresh session
            # right before the traced one, on a JVM of about the same warmth.
            spark = sessions.restart()
            baseline = wl.run_pass(spark, "baseline")
            spark = sessions.restart(harness.traced_conf())
            tracer = harness.Tracer(spark.sparkContext)
            traced = wl.run_pass(spark, "traced", tracer)
            # the status tracker lives with the session; the event log is
            # complete only once the session has stopped
            counts = wl.job_counts(tracer, traced)
            sessions.stop_session()
            stages = eventlog.read_stages(harness.EVENTLOG)
            log("traced pass done")
            metrics = per_layer(
                wl, passes[0], baseline, traced, check, tracer, counts, stages, sessions, mem
            )
    finally:
        sessions.close()
        wl.close()
    detail["check"] = check
    detail["metrics"] = metrics
    return metrics, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Only the result line goes to the real stdout. Everything else the run
    # prints, and what the JVM and Python workers it starts print, goes to
    # stderr.
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    sys.path.insert(0, harness.ROOT)
    try:
        import inspectehr_spark
    except ImportError as exc:
        log(f"cannot import the program from {harness.ROOT}: {exc}")
        return 2
    if not os.path.abspath(inspectehr_spark.__file__).startswith(harness.ROOT + os.sep):
        log(f"inspectehr_spark imported from outside the checkout: {inspectehr_spark.__file__}")
        return 2

    def _timeout(signum, frame):
        raise TimeoutError("benchmark run exceeded its time limit")

    signal.signal(signal.SIGALRM, _timeout)
    # on SIGTERM, unwind so that the JVM and the labelling process stop
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(170)
    metrics, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    signal.alarm(0)

    check = detail["check"]
    correct = check["failed"] == 0
    units = PER_LAYER if args.trace else END_TO_END
    out = {
        "correct": correct,
        "attempted": check["attempted"],
        "failed": check["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    detail["correct"] = correct
    path = os.path.join(
        harness.OUT, f"detail-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for k, u in units.items():
        log(f"{args.workload} {k} = {metrics[k]:.6g} {u}")
    log(f"{args.workload} correct={correct} attempted={check['attempted']} "
        f"failed={check['failed']} url_failed_frac={check.get('url_failed_frac', check['failed'] / check['attempted']):.4f} "
        f"detail={os.path.relpath(path, harness.ROOT)}")
    os.write(result_fd, (json.dumps(out) + "\n").encode())
    os.close(result_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
