#!/usr/bin/env python3
"""Benchmark of the production extraction job, end to end and per layer.

    python3 perfbench/run.py --workload crawl_mix --seed 7 --seconds 12 \\
        --trace 0

``--trace 0`` times the job with nothing instrumented and prints the
end-to-end metrics; ``--trace 1`` is a separate run that prints the
per-layer metrics. ``--workload all`` runs every workload in turn. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md for workloads, metric definitions and baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import eventlog
import gate
import proctree
import spark_side
import tracing
from inputs import DEFAULT_SEED, WORKLOADS, ensure_inputs, read_rows

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

SETUP_PROBES = 1       # fresh-process get_spark samples besides our own
MIN_WARM, MAX_WARM = 3, 12  # timed warm jobs
PROBE_REPS = 3         # traced run: repetitions of each layer probe
TRACE_REPS = 2         # traced run: warm jobs without, then with wrappers

END_TO_END = {"docs_per_s": "docs/s", "cpu_ms_per_doc": "ms/doc",
              "cold_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "pipeline.worker_start_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.arrow_roundtrip_s": "s",
    "pipeline.bytes_to_python": "bytes",
    "pipeline.bytes_from_python": "bytes",
    "pipeline.batch_build_ms_per_doc": "ms/doc",
    "pipeline.group_write_s": "s", "pipeline.group_lineage_s": "s",
    "pipeline.spark_jobs_per_group": "count",
    "pipeline.input_scans": "count",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.extract_task_skew": "ratio", "pipeline.gc_s": "s",
    "pipeline.output_bytes": "bytes", "manifest.commit_ms": "ms",
    "kernels.ms_per_doc": "ms/doc", "kernels.html_dom_ms": "ms/doc",
    "kernels.boilerplate_ms": "ms/doc",
    "kernels.serialize_md_ms": "ms/doc", "kernels.fields_ms": "ms/doc",
    "kernels.detect_ms": "ms/doc", "trace.overhead_ratio": "ratio",
}
# layers that only some inputs reach: printed on the info line of the
# workloads where they apply, never as a 0 in the metrics
PER_LAYER_WHERE_APPLIES = {
    "warc.read_s": "s", "kernels.pdf_text_ms": "ms/doc",
    "kernels.docx_ms": "ms/doc", "kernels.text_ms": "ms/doc",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def run_job(spark, w, inputs, out: Path) -> dict:
    """One extraction job into a fresh output directory, timed from the
    run_extraction_* call to its return."""
    from extract_kit_spark import pipeline
    t0 = time.perf_counter()
    try:
        if w.layout == "scan":
            summary = pipeline.run_extraction_scan(
                spark, str(inputs.input_dir), str(out), job_id=out.name,
                n_groups=w.groups, input_format=w.input_format)
        else:
            summary = pipeline.run_extraction_bucketed(
                spark, str(inputs.input_dir), str(out), job_id=out.name,
                n_buckets=w.buckets,
                commit_group_size=w.buckets // w.groups,
                input_format=w.input_format)
        error = None
    except Exception as exc:  # a failed job is a measured outcome
        log(traceback.format_exc())
        summary, error = {}, f"{type(exc).__name__}: {exc}"
    return {"seconds": time.perf_counter() - t0, "summary": summary,
            "error": error, "data": str(out / "data")}


def job_bad(ref, job: dict) -> int:
    """Bad docs of one job; logs what was wrong."""
    if job["error"]:
        bad, why = len(ref), [job["error"]]
    else:
        bad, why = gate.check_job(ref, job["summary"], job["data"])
    if bad:
        log(f"GATE: {bad} of {len(ref)} docs bad in {job['data']}: {why}")
    return bad


def probe_setup(w) -> float:
    p = subprocess.run([sys.executable, str(HERE / "setup_probe.py"),
                        str(WORK), str(w.slots)], capture_output=True,
                       text=True, timeout=150)
    if p.returncode != 0:
        raise RuntimeError(f"setup probe failed:\n{p.stderr[-2000:]}")
    return float(p.stdout.strip().splitlines()[-1])


def run_untraced(w, inputs, seconds: float, run_dir: Path):
    setup = [probe_setup(w) for _ in range(SETUP_PROBES)]
    spark, t = spark_side.start(WORK)
    setup.append(t)
    me = os.getpid()
    cpu, peaks, warmup, warm = 0.0, [], [], []
    try:
        cold = run_job(spark, w, inputs, run_dir / "cold")
        info = spark_side.probe_workers(spark)
        for k in range(w.warmup):
            warmup.append(run_job(spark, w, inputs, run_dir / f"warmup{k}"))
        # timed jobs while the next one is expected to end in time
        deadline = time.monotonic() + seconds
        while len(warm) < MIN_WARM or (len(warm) < MAX_WARM and (
                time.monotonic() + statistics.median(
                    j["seconds"] for j in warm) <= deadline)):
            # each timed job starts from a compacted JVM heap
            spark.sparkContext._jvm.System.gc()
            c0 = proctree.cpu_seconds(me)
            with proctree.PeakRss(me) as rss:
                warm.append(run_job(spark, w, inputs,
                                    run_dir / f"warm{len(warm)}"))
            # less the benchmark's own RSS sampling
            cpu += proctree.cpu_seconds(me) - c0 - rss.cpu
            peaks.append(rss.peak)
    finally:
        spark_side.stop(spark)
    metrics = {
        "docs_per_s": statistics.median(inputs.docs / j["seconds"]
                                        for j in warm),
        "cpu_ms_per_doc": cpu * 1000.0 / (inputs.docs * len(warm)),
        "cold_s": cold["seconds"],
        "setup_s": statistics.median(setup),
        "peak_rss_mb": statistics.median(peaks) / 1e6,
    }
    info.update(setup_samples=setup,
                warmup_seconds=[j["seconds"] for j in warmup],
                warm_seconds=[j["seconds"] for j in warm])
    return [cold] + warmup + warm, metrics, info


def run_traced(w, inputs, run_dir: Path):
    from pyspark.sql import functions as F

    from extract_kit_spark.pipeline import read_pages
    from extract_kit_spark.warc import read_warc

    tracer = tracing.Tracer()
    metrics = tracing.kernel_pass(tracer, read_rows(inputs))
    event_dir = run_dir / "events"
    spark, metrics["session.start_s"] = spark_side.start(WORK, event_dir)
    sc = spark.sparkContext
    src = str(inputs.input_dir)

    def timed(group: str, make_df) -> float:
        sc.setJobGroup(group, group)
        samples = []
        for _ in range(PROBE_REPS):
            t0 = time.perf_counter()
            make_df().collect()
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)

    def job(group: str) -> dict:
        if group != "cold":
            sc._jvm.System.gc()  # as in the untraced warm jobs
        sc.setJobGroup(group, group)
        tracer.trace_id = group
        with tracer.span("job"):
            j = run_job(spark, w, inputs, run_dir / group)
        j["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        return j

    try:
        cold = job("cold")
        sc.setJobGroup("provenance", "provenance")
        info = spark_side.probe_workers(spark)

        def pages():
            return read_pages(spark, src, w.input_format)

        metrics["pipeline.scan_s"] = timed("scan", lambda: pages().agg(
            F.sum(F.length("html"))))
        metrics["pipeline.arrow_roundtrip_s"] = timed(
            "roundtrip", lambda: pages().mapInPandas(
                spark_side.identity, pages().schema).agg(
                F.sum(F.length("html")))) - metrics["pipeline.scan_s"]
        if w.input_format == "warc":
            metrics["warc.read_s"] = timed("warc", lambda: read_warc(
                spark, src, with_index=False).agg(
                F.sum(F.length("payload")), F.count(F.lit(1))))
        sc.setJobGroup("warmup", "warmup")
        warmup = [run_job(spark, w, inputs, run_dir / f"warmup{k}")
                  for k in range(w.warmup)]
        # alternate plain and traced jobs so drift hits both alike
        plain, traced = [], []
        for k in range(TRACE_REPS):
            plain.append(job(f"plain{k}"))
            tracing.install_job_wrappers(tracer)
            traced.append(job(f"traced{k}"))
            tracer.restore()
    finally:
        tracer.restore()
        spark_side.stop(spark)

    ev = eventlog.EventLog(event_dir)
    groups = [f"traced{k}" for k in range(TRACE_REPS)]

    def per_job(f) -> float:
        return statistics.mean(f(g) for g in groups)

    spans = tracer.totals("traced")
    skews = [s for g in groups for s in ev.extract_stage_skews(g)]
    metrics.update({
        "pipeline.worker_start_s": sum(
            ev.task_acc("cold", n) for n in eventlog.PY_START) / 1000.0,
        "pipeline.bytes_to_python": per_job(
            lambda g: ev.task_acc(g, eventlog.PY_SENT)),
        "pipeline.bytes_from_python": per_job(
            lambda g: ev.task_acc(g, eventlog.PY_RETURNED)),
        "pipeline.group_write_s":
            spans["pipeline.group_write"]["total_s"] / TRACE_REPS,
        "pipeline.group_lineage_s":
            spans["pipeline.group_lineage"]["total_s"] / TRACE_REPS,
        "pipeline.spark_jobs_per_group": statistics.mean(
            j["spark_jobs"] / max(1, j["summary"].get("n_groups_run", 1))
            for j in traced),
        "pipeline.input_scans": per_job(ev.input_bytes_scanned)
            / dir_bytes(inputs.input_dir),
        "pipeline.shuffle_write_bytes": per_job(
            lambda g: ev.task_sum(g, "shuffle_write")),
        "pipeline.extract_task_skew": statistics.median(skews)
            if skews else 1.0,
        "pipeline.gc_s": per_job(lambda g: ev.task_sum(g, "gc_ms")) / 1000,
        "pipeline.output_bytes": dir_bytes(Path(traced[-1]["data"])),
        "manifest.commit_ms": 1000.0 * spans["manifest.commit"]["total_s"]
            / max(1, spans["manifest.commit"]["count"]),
        "trace.overhead_ratio":
            statistics.median(j["seconds"] for j in traced)
            / statistics.median(j["seconds"] for j in plain),
    })
    tracer.dump(WORK / "traces" / f"{run_dir.name}.json")
    return [cold] + warmup + plain + traced, metrics, info


def reference(w, inputs, seed: int) -> tuple[dict, str]:
    """The run's reference and how it compares with golden.json. When the
    file has no entry for this seed, the default seed's reference is
    checked instead, so changed output is caught at any seed."""
    ref = gate.load_or_compute_reference(inputs.dir / "ref.json",
                                         inputs.docs_path, 4)
    status = gate.golden_status(w.name, seed, inputs.docs_sha256, ref)
    if status == "absent":
        canary = ensure_inputs(w, DEFAULT_SEED, WORK / "inputs")
        canary_ref = gate.load_or_compute_reference(
            canary.dir / "ref.json", canary.docs_path, 4)
        status = f"seed {DEFAULT_SEED}: " + gate.golden_status(
            w.name, DEFAULT_SEED, canary.docs_sha256, canary_ref)
    if status.endswith("MISMATCH"):
        log(f"GATE: the extraction output of {w.name} differs from "
            f"golden.json ({status}); every doc counts as bad")
    return ref, status


def run_all(args) -> int:
    """Every workload in its own process; metrics keyed workload.metric."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        p = subprocess.run(
            [sys.executable, __file__, "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode not in (0, 1) or not lines:
            log(p.stderr[-4000:])
            return p.returncode or 1
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"].update({f"{name}.{k}": v
                                 for k, v in res["metrics"].items()})
    print(json.dumps(total))
    return 0 if total["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "extract_kit_spark" / "__init__.py").is_file():
        log(f"no extract_kit_spark package under {ROOT}: nothing to "
            "benchmark")
        return 2
    if args.workload == "all":
        return run_all(args)
    w = WORKLOADS.get(args.workload)
    if w is None:
        log(f"unknown workload {args.workload!r}; one of "
            f"{sorted(WORKLOADS)} or 'all'")
        return 2

    spark_side.prepare_env(WORK, w.slots)
    sys.path.insert(0, str(ROOT))
    import extract_kit_spark
    if not Path(extract_kit_spark.__file__).resolve().is_relative_to(ROOT):
        log(f"extract_kit_spark imported from {extract_kit_spark.__file__}")
        return 2
    steal0 = proctree.steal_ticks()
    t0 = time.perf_counter()
    inputs = ensure_inputs(w, args.seed, WORK / "inputs")
    ref, golden = reference(w, inputs, args.seed)
    prepare_s = time.perf_counter() - t0

    run_dir = WORK / "runs" / f"{w.name}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    if args.trace:
        jobs, metrics, info = run_traced(w, inputs, run_dir)
        units = PER_LAYER
    else:
        jobs, metrics, info = run_untraced(w, inputs, args.seconds,
                                           run_dir)
        units = END_TO_END

    t0 = time.perf_counter()
    bad = [job_bad(ref, j) for j in jobs]
    attempted = inputs.docs * len(jobs)
    failed = attempted if golden.endswith("MISMATCH") else sum(bad)
    if bad[0] == 0:
        gate.self_test(ref, gate.read_output(jobs[0]["data"]))
    steal1 = proctree.steal_ticks()
    info.update(prepare_s=prepare_s, check_s=time.perf_counter() - t0,
                steal_frac=(steal1[0] - steal0[0])
                / max(1, steal1[1] - steal0[1]))
    info["golden"] = golden
    shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in metrics.items():
        log(f"{w.name:12s} {k:34s} {v:14.4f} "
            f"{units.get(k) or PER_LAYER_WHERE_APPLIES[k]}")
    print(json.dumps({"workload": w.name, "seed": args.seed,
                      "trace": args.trace, "input": inputs.describe(),
                      "run": info,
                      "layers_where_apply": {
                          k: metrics[k] for k in PER_LAYER_WHERE_APPLIES
                          if k in metrics},
                      "docs_bad_frac": failed / attempted,
                      "jobs": len(jobs)}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units if k in metrics}}))
    if failed:
        log(f"GATE FAILED: {failed} of {attempted} docs bad")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
