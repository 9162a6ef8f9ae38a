"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload warehouse_build --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Inputs are generated from the seed
(cached per seed under ``perfbench/.work/cache``) and every output, Spark
local dir and event log stays under ``perfbench/.work``. Detail lines go
to stdout first; the last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
A traced run also prints the tracing overhead (traced minus the latest
untraced value of each end-to-end metric) and writes its spans to
``perfbench/.work/trace``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

E2E_UNITS = {
    "setup_s": "s", "cold_s": "s", "p50_ms": "ms", "tail_ms": "ms",
    "rows_per_s": "rows/s", "bytes_per_row": "B/row", "nonheap_rss_mb": "MB",
}

LAYER_UNITS = {
    "sources.extract_s": "s", "sources.extract_records_per_s": "1/s",
    "sources.extract_python_bytes": "B", "sources.export_s": "s",
    "sources.export_bytes": "B", "sources.export_files": "count",
    "models.raw_s": "s", "models.bronze_s": "s", "models.geometadb_s": "s",
    "models.mart_s": "s", "models.bronze_rows": "count", "models.mart_rows": "count",
    "models.bronze_scan_bytes": "B", "models.bronze_useful_ratio": "ratio",
    "engine.runner.self_s": "s", "engine.runner.jobs": "count",
    "engine.runner.jobs_per_model": "count", "engine.audits.s": "s",
    "engine.audits.jobs": "count", "engine.catalog.catalog_json_s": "s",
    "engine.catalog.remote_views_s": "s", "engine.catalog.column_stats_s": "s",
    "engine.catalog.prune_ms": "ms", "engine.catalog.files_kept_ratio": "ratio",
    "spark.query_non_job_ms": "ms", "spark.query_jobs": "count", "spark.query_tasks": "count",
    "engine.curate.s": "s", "operators.text.quality_flag_s": "s",
    "operators.text.repetition_stats_s": "s", "operators.dedup.exact_dedup_s": "s",
    "operators.dedup.minhash_lsh_candidates_s": "s",
    "operators.dedup.connected_components_star_s": "s", "operators.dedup.cc_jobs": "count",
    "operators.dedup.lsh_candidates": "count", "operators.dedup.lsh_precision": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
    "spark.input_bytes": "B", "spark.output_bytes": "B", "spark.python_bytes": "B",
    "spark.peak_execution_memory_bytes": "B",
}


def host_conf(work: str, trace: bool) -> tuple[int, dict]:
    """Session settings that fit this host, with every scratch path under
    ``work``. Returns (cpus, extra Spark conf)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    mem_mb = max(512, min(2048, total_kb // 1024 // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # inherited by the JVM and the Python workers it starts: workers must
    # import the program (extract runs in them) and write temp files here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # The heap is fixed and touched up front. Serving latency depends
        # on how far G1 has grown the heap, which differs from run to run:
        # with a growing heap, p50_ms spread by 0.30 and tail_ms by 0.35
        # over five seeds, against 0.16 and 0.12 with a fixed one.
        # nonheap_rss_mb subtracts the heap again. No perf-data file in /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return cpus, conf


def cached_inputs(seed: int) -> str:
    """Generate the seed's inputs once; later runs reuse them."""
    path = os.path.join(WORK, "cache", f"seed-{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), tmp, str(seed)], check=True)
    try:
        os.rename(tmp, path)
    except OSError:  # another run generated the same seed first
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def remove_stale_runs() -> None:
    """Delete run directories left by runs that were killed."""
    for d in glob.glob(os.path.join(WORK, "run-*")):
        pid = d.rsplit("-", 1)[1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(d, ignore_errors=True)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of a coarse ladder of percentiles
    with at least ten samples beyond it. The ladder is coarse and stops at
    p90 so that the percentile does not change between runs whose sample
    counts differ: a serve run records 130-220 queries, and p95 would
    qualify only at the top of that range. With fewer than 11 samples no
    percentile qualifies, and the median stands in (percentile 50)."""
    xs = sorted(samples)
    for p in (90, 75, 50):
        k = int(len(xs) * p / 100)
        if len(xs) - k - 1 >= 10:
            return p, xs[k]
    return 50.0, statistics.median(xs)


def end_to_end(run) -> dict:
    pct, tail_s = tail([s for _, s in run.latencies])
    by_kind: dict = {}
    for kind, s in run.latencies:
        by_kind.setdefault(kind, []).append(s)
    # the median of a mix of query kinds jumps between kinds as the draw
    # shifts; the per-kind medians, combined geometrically, do not
    medians = {k: statistics.median(v) for k, v in by_kind.items()}
    run.detail.update(tail_percentile=pct, latency_samples=len(run.latencies),
                      p50_ms_by_kind={k: round(v * 1000, 3) for k, v in medians.items()})
    if len(run.latencies) <= 10:
        run.detail["latencies_ms"] = [round(s * 1000, 3) for _, s in run.latencies]
    return {
        "setup_s": run.setup_s,
        "cold_s": run.cold_s,
        "p50_ms": statistics.geometric_mean(medians.values()) * 1000,
        "tail_ms": tail_s * 1000,
        "rows_per_s": run.work_rows / run.work_seconds,
        "bytes_per_row": run.published_bytes / run.published_rows,
        "nonheap_rss_mb": run.nonheap_rss_mb,
    }


def per_layer(run) -> dict:
    """Per-layer metrics from the traced run's spans. Times and counts are
    per measured unit of work (median over units: the build, or each warm
    curation pass; queries for the ``spark.query_*`` metrics); a layer
    that does not run in this workload reports 0."""
    t = run.tracer
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    units = [s for s in t.named("unit") if s.attrs.get("measured")]
    unit_ids = {s.id for s in units}

    def in_units(name):
        hits = []
        for s in t.named(name):
            p = s.parent
            while p is not None and p not in unit_ids:
                p = t.spans[p].parent
            if p is not None:
                hits.append(s)
        return hits

    ex = in_units("sources.extract")
    out["sources.extract_s"] = med([s.seconds for s in ex])
    out["sources.extract_records_per_s"] = med([s.attrs["records"] / s.seconds for s in ex])
    out["sources.extract_python_bytes"] = med([tr.inclusive(t, s)["python_bytes"] for s in ex])
    exp = in_units("sources.export")
    out["sources.export_s"] = med([s.seconds for s in exp])
    out["sources.export_bytes"] = med([s.attrs.get("bytes", 0) for s in exp])
    out["sources.export_files"] = med([s.attrs.get("files", 0) for s in exp])

    runs = in_units("engine.runner.run")
    per_run = []
    for r in runs:
        res = r.attrs.get("results", [])
        layer_s = {ly: sum(sec for _, layer, sec, _ in res if layer == ly)
                   for ly in ("raw", "bronze", "geometadb", "mart")}
        rows = {ly: sum(n or 0 for _, layer, _, n in res if layer == ly) for ly in ("bronze", "mart")}
        models = [c for c in t.children(r) if c.name.startswith("model:")]
        bronze = [tr.inclusive(t, c) for c in models if c.attrs.get("layer") == "bronze"]
        scanned = sum(c["input_records"] for c in bronze)
        jobs = tr.inclusive(t, r)["jobs"]
        per_run.append({
            **{f"models.{ly}_s": v for ly, v in layer_s.items()},
            "models.bronze_rows": rows["bronze"], "models.mart_rows": rows["mart"],
            "models.bronze_scan_bytes": sum(c["input_bytes"] for c in bronze),
            "models.bronze_useful_ratio": rows["bronze"] / scanned if scanned else 0.0,
            "engine.runner.self_s": r.seconds - sum(sec for _, _, sec, _ in res),
            "engine.runner.jobs": jobs,
            "engine.runner.jobs_per_model": jobs / max(len(res), 1),
        })
    for k in (per_run[0] if per_run else {}):
        out[k] = med([p[k] for p in per_run])

    aud = in_units("engine.audits")
    out["engine.audits.s"] = med([s.seconds for s in aud])
    out["engine.audits.jobs"] = med([tr.inclusive(t, s)["jobs"] for s in aud])
    out["engine.catalog.catalog_json_s"] = med([s.seconds for s in in_units("engine.catalog.catalog_json")])
    out["engine.catalog.remote_views_s"] = med([s.seconds for s in in_units("engine.catalog.remote_views")])
    out["engine.catalog.column_stats_s"] = med([s.seconds for s in t.named("engine.catalog.column_stats")])
    prune = t.named("engine.catalog.skipping_read")
    out["engine.catalog.prune_ms"] = med([s.seconds * 1000 for s in prune])
    out["engine.catalog.files_kept_ratio"] = (
        statistics.mean(s.attrs["kept_ratio"] for s in prune) if prune else 0.0)

    queries = t.named("query")
    if queries:
        out["spark.query_non_job_ms"] = med([
            (q.seconds - tr.union_seconds(tr.all_job_intervals(t, q), q.t0, q.t1)) * 1000
            for q in queries])
        out["spark.query_jobs"] = statistics.mean(tr.inclusive(t, q)["jobs"] for q in queries)
        out["spark.query_tasks"] = statistics.mean(tr.inclusive(t, q)["tasks"] for q in queries)

    out["engine.curate.s"] = med([s.seconds for s in in_units("engine.curate")])
    for name in ("text.quality_flag", "text.repetition_stats", "dedup.exact_dedup",
                 "dedup.minhash_lsh_candidates", "dedup.connected_components_star"):
        out[f"operators.{name}_s"] = med([s.seconds for s in t.named(f"operators.{name}")])
    cc = t.named("operators.dedup.connected_components_star")
    out["operators.dedup.cc_jobs"] = med([tr.inclusive(t, s)["jobs"] for s in cc])
    lsh = t.named("operators.dedup.minhash_lsh_candidates")
    if lsh:
        out["operators.dedup.lsh_candidates"] = lsh[-1].attrs["candidates"]
        out["operators.dedup.lsh_precision"] = lsh[-1].attrs["precision"]

    inc = [tr.inclusive(t, s) for s in units]
    if inc:
        mean = lambda k: statistics.mean(c[k] for c in inc)  # noqa: E731
        out.update({
            "spark.jobs": mean("jobs"), "spark.stages": mean("stages"), "spark.tasks": mean("tasks"),
            "spark.executor_run_s": mean("executor_run_ms") / 1000,
            "spark.executor_cpu_s": mean("executor_cpu_ns") / 1e9,
            "spark.gc_s": mean("gc_ms") / 1000,
            "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
            "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
            "spark.spill_bytes": mean("spill_bytes"),
            "spark.input_bytes": mean("input_bytes"),
            "spark.output_bytes": mean("output_bytes"),
            "spark.python_bytes": mean("python_bytes"),
            "spark.peak_execution_memory_bytes": max(c["peak_memory"] for c in inc),
        })
    return out


def span_totals(tracer) -> dict:
    """Per span name: count, total and self seconds, inclusive jobs/tasks."""
    totals: dict = {}
    for s in tracer.spans:
        key = s.name if not s.name.startswith("model:") else "model:" + s.attrs.get("layer", "?")
        d = totals.setdefault(key, {"n": 0, "seconds": 0.0, "self_seconds": 0.0, "jobs": 0, "tasks": 0})
        inc = tr.inclusive(tracer, s)
        d["n"] += 1
        d["seconds"] += s.seconds
        d["self_seconds"] += tr.self_seconds(tracer, s)
        d["jobs"] += inc["jobs"]
        d["tasks"] += inc["tasks"]
    return {k: {kk: round(vv, 4) for kk, vv in v.items()} for k, v in totals.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    load_start = os.getloadavg()
    cache = cached_inputs(args.seed)
    remove_stale_runs()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    cpus, conf = host_conf(work, bool(args.trace))
    run = workloads.Run(work=work, cache=cache, seed=args.seed, seconds=args.seconds,
                        tracer=tr.Tracer(bool(args.trace)), conf=conf, cpus=cpus)
    try:
        workloads.WORKLOADS[args.workload](run)
        e2e = end_to_end(run)
    finally:
        run.stop()
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "driver_memory": conf["spark.driver.memory"],
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        **run.detail,
        "end_to_end": e2e, "failures": run.failures[:20],
    }
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    if args.trace:
        tr.attribute(run.tracer, os.path.join(work, "eventlog"))
        metrics = {k: (v, LAYER_UNITS[k]) for k, v in per_layer(run).items()}
        detail["span_totals"] = span_totals(run.tracer)
        base_path = os.path.join(results_dir, f"{args.workload}.json")
        if os.path.exists(base_path):
            with open(base_path) as fh:
                base = json.load(fh)
            detail["trace_overhead"] = {
                "baseline_seed": base["seed"],
                **{k: round(e2e[k] - base["end_to_end"][k], 6) for k in E2E_UNITS}}
        else:
            detail["trace_overhead"] = "no untraced run of this workload in this checkout yet"
        run.tracer.dump(os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}-spans.json"))
    else:
        metrics = {k: (e2e[k], u) for k, u in E2E_UNITS.items()}
        with open(os.path.join(results_dir, f"{args.workload}.json"), "w") as fh:
            json.dump({"seed": args.seed, "end_to_end": e2e}, fh)
    print(json.dumps(detail, default=str), flush=True)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
