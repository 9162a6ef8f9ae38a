"""The benchmark's workloads.

Each workload drives the program only through its public calls, from a
:class:`Run` that owns the Spark session, the tracer, the timings and the
correctness tally.

- ``warehouse_build``: the nightly job and its readers. One build+publish
  in the fresh JVM (what the nightly CLI pays every night), then a closed
  loop of mart queries from ``SERVE_CLIENTS`` threads sharing the
  session, over the export the run just published.
- ``corpus_curation``: repeated ``curate_corpus`` passes over a seeded
  corpus with planted exact and near duplicates.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import gen
import oracle
import spans as tr
from pyspark.sql import functions as F

from omicidx_gh_etl_spark.engine import (
    WarehouseRunner,
    build_catalog_json,
    build_remote_views_db,
    scan_column_stats,
    skipping_read,
    write_catalog_json,
)
from omicidx_gh_etl_spark.engine.audits import AUDITS, run_audits
from omicidx_gh_etl_spark.engine.curate import curate_corpus
from omicidx_gh_etl_spark.models import REGISTRY
from omicidx_gh_etl_spark.models.registry import ModelRegistry
from omicidx_gh_etl_spark.operators import dedup, text
from omicidx_gh_etl_spark.session import get_spark
from omicidx_gh_etl_spark.sources.writers import write_parquet
from omicidx_gh_etl_spark.sources.xml_extract import extract_experiments

SERVE_CLIENTS = 2
SERVE_WARMUP_S = 16.0
WARMUP_PASSES = 2
MIN_PASSES = 3
START, END = gen.WINDOW_START.isoformat(), gen.DAY.isoformat()


@dataclass
class Run:
    work: str  # per-run scratch directory
    cache: str  # generated inputs for this seed
    seed: int
    seconds: float
    tracer: tr.Tracer
    conf: dict
    cpus: int
    spark: object = None
    attempted: int = 0
    failures: list = field(default_factory=list)
    setup_s: float = 0.0
    cold_s: float = 0.0
    latencies: list = field(default_factory=list)  # (kind, seconds) per measured operation
    work_rows: int = 0  # rows produced by the throughput phase ...
    work_seconds: float = 0.0  # ... and its wall time
    published_bytes: int = 0
    published_rows: int = 0
    nonheap_rss_mb: float = 0.0
    detail: dict = field(default_factory=dict)

    def new_session(self):
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus, extra_conf=self.conf)
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for the JVM to exit
        (it exits when its stdin closes; its Python workers follow)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)

    def tally(self, mismatches: list[str], checks: int) -> None:
        self.attempted += checks
        self.failures.extend(mismatches)

    def record_memory(self) -> None:
        """``nonheap_rss_mb``, and for the detail line the sum of the Java
        heap pools' peak use (an upper bound of the heap's peak use)."""
        jvm = self.spark._jvm
        heap_mb = int(self.conf["spark.driver.memory"].rstrip("m"))
        mem = tr.nonheap_rss_mb(int(jvm.java.lang.ProcessHandle.current().pid()), heap_mb)
        self.nonheap_rss_mb = mem["total"]
        pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        mem["heap_pool_peaks"] = sum(p.getPeakUsage().getUsed() for p in pools
                                     if p.getType().name() == "HEAP") / 2**20
        self.detail["memory_mb"] = {k: round(v, 1) for k, v in mem.items()}


def set_up(run: Run, prepare) -> None:
    """Launch the JVM with the session and bring the workload to its start
    state; the time of both is ``setup_s``. This process's peak memory is
    reset first, so input copies and expected values made before do not
    count in ``nonheap_rss_mb``."""
    tr.reset_peak_rss()
    t0 = time.perf_counter()
    spark = run.new_session()
    with run.tracer.span("setup.prepare"):
        prepare(spark)
    run.setup_s = time.perf_counter() - t0


def dir_stats(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``."""
    files = [p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
             if os.path.isfile(p)]
    return len(files), sum(os.path.getsize(p) for p in files)


# -- warehouse build + publish ---------------------------------------------------


@dataclass
class Warehouse:
    data: str
    xml: str
    warehouse: str
    export: str

    @classmethod
    def fresh(cls, run: Run) -> "Warehouse":
        """Copy the seed's raw data root into the run directory and drop
        the newest day's accession rows into the accessions dataset."""
        data = os.path.join(run.work, "data")
        shutil.copytree(os.path.join(run.cache, "genomics"), data)
        shutil.copy(os.path.join(run.cache, "day", "accessions.parquet"),
                    os.path.join(data, "sra", "sra_accessions.parquet",
                                 f"day-{gen.DAY.isoformat()}.parquet"))
        return cls(data, os.path.join(run.cache, "day", "xml"),
                   os.path.join(run.work, "warehouse"), os.path.join(run.work, "export"))


def traced_registry(tagger: tr.ModelTagger) -> ModelRegistry:
    reg = ModelRegistry()
    for _, m in REGISTRY.items():
        reg.register(tagger.wrap(m))
    return reg


def build_and_publish(run: Run, wh: Warehouse, expected: dict) -> tuple[int, tuple]:
    """One nightly iteration: extract the day's XML into the raw glob, run
    all models over the window, audit, export the mart and the geometadb
    views, write catalog.json and the remote-views DB. Returns the rows
    written and what :func:`check_build` needs (checked untimed)."""
    spark, tracer = run.spark, run.tracer
    with tracer.span("sources.extract", records=expected["day_rows"]):
        write_parquet(extract_experiments(spark, wh.xml),
                      os.path.join(wh.data, "sra", f"day{gen.DAY:%Y%m%d}Full-experiment-1.parquet"))
    tagger = tr.ModelTagger(tracer) if tracer.enabled else None
    runner = WarehouseRunner(spark, traced_registry(tagger) if tagger else REGISTRY,
                             wh.data, wh.warehouse)
    with tracer.span("engine.runner.run") as run_span:
        results = runner.run(START, END, run_audits_after=False)
        if tagger:
            tagger.finish(results)
    if run_span is not None:
        run_span.attrs["results"] = [(r.model, REGISTRY.get(r.model).layer, r.seconds, r.rows_affected)
                                     for r in results]
    ok = [r.model for r in results if r.status == "success"]
    with tracer.span("engine.audits"):
        audits = run_audits(AUDITS, runner.resolve, ok, spark, wh.warehouse)
    with tracer.span("sources.export") as export_span:
        for name, model in oracle.EXPORTS.items():
            write_parquet(runner.resolve(model), os.path.join(wh.export, name))
    with tracer.span("engine.catalog.catalog_json"):
        catalog = build_catalog_json(spark, wh.export)
        write_catalog_json(catalog, os.path.join(wh.export, "catalog.json"))
    remote = os.path.join(wh.export, "remote_views.duckdb")
    with tracer.span("engine.catalog.remote_views"):
        build_remote_views_db(catalog, remote)
    rows = (expected["day_rows"] + sum(r.rows_affected or 0 for r in results)
            + sum(expected["exports"].values()))
    return rows, (results, audits, catalog, remote, export_span)


def check_build(run: Run, wh: Warehouse, expected: dict, outputs: tuple) -> None:
    results, audits, catalog, remote, export_span = outputs
    files, size = dir_stats(wh.export)
    if export_span is not None:
        export_span.attrs.update(files=files, bytes=size)
    run.published_bytes, run.published_rows = size, sum(expected["exports"].values())
    bad = oracle.check_warehouse(expected, results, wh.warehouse, wh.export, catalog, remote, audits)
    run.tally(bad, len(results) + len(audits) + 3 * len(expected["exports"]) + 2)


# -- mart serve -----------------------------------------------------------------

SERVE_KINDS = ("point_experiment", "point_gsm", "study_filter", "organism_strategy",
               "gse_supplementary", "date_range")


def serve_query(kind: str, rng: random.Random, keys: dict) -> tuple[str, tuple | None]:
    """(SQL, date bounds) for one query. For ``date_range`` the SQL is the
    DuckDB reference; Spark reads through ``skipping_read`` instead."""
    if kind == "point_experiment":
        return ("SELECT experiment_accession, study_accession, sample_accession, organism, "
                "library_strategy FROM sra_metadata "
                f"WHERE experiment_accession = '{rng.choice(keys['exp'])}'", None)
    if kind == "point_gsm":
        return ("SELECT gsm, gpl, title, organism_ch1, source_name_ch1 FROM gsm "
                f"WHERE gsm = '{rng.choice(keys['gsm'])}'", None)
    if kind == "study_filter":
        return ("SELECT experiment_accession, library_strategy, platform, organism FROM sra_metadata "
                f"WHERE study_accession = '{rng.choice(keys['study'])}'", None)
    if kind == "organism_strategy":
        return ("SELECT organism, library_strategy, count(*) AS n FROM sra_metadata "
                f"WHERE platform = '{rng.choice(gen.PLATFORMS)}' GROUP BY organism, library_strategy",
                None)
    if kind == "gse_supplementary":
        lo = rng.randrange(0, len(keys["gse"]) - 20)
        return ("SELECT accession, filename FROM geo_supplemental_files WHERE accession_type = 'gse' "
                f"AND accession BETWEEN '{keys['gse'][lo]}' AND '{keys['gse'][lo + 20]}' "
                f"AND filename LIKE '%{rng.choice(gen.SUPPL_SUFFIXES)}'", None)
    day = gen.WINDOW_START + dt.timedelta(days=rng.randrange(0, (gen.DAY - gen.WINDOW_START).days))
    hi = day + dt.timedelta(days=1)
    return ("SELECT library_strategy, count(*) AS n FROM sra_metadata "
            f"WHERE updated_date BETWEEN DATE '{day}' AND DATE '{hi}' GROUP BY library_strategy",
            (day, hi))


def _epoch_us(d: dt.date) -> float:
    """A date as parquet footer statistics compare it (epoch micros)."""
    return (d - dt.date(1970, 1, 1)).days * 86_400e6


def serve(run: Run, export_root: str) -> tuple:
    """Closed loop of mart queries over the published export: each client
    sends its next query when the previous one returns, for
    ``run.seconds``. Returns a DuckDB connection over the export and the
    answers, for the caller to check."""
    spark, tracer = run.spark, run.tracer
    mart_dir = os.path.join(export_root, "sra_metadata")
    with tracer.span("engine.catalog.column_stats"):
        stats = scan_column_stats(spark, mart_dir, ["updated_date"]).cache()
        stats.count()
    for name in oracle.EXPORTS:
        spark.read.parquet(os.path.join(export_root, name)).createOrReplaceTempView(name)
    duck = oracle.serve_connection(export_root)
    column = lambda sql: [r[0] for r in duck.execute(sql).fetchall()]  # noqa: E731
    keys = {
        "exp": column("SELECT experiment_accession FROM sra_metadata ORDER BY 1"),
        "study": column("SELECT DISTINCT study_accession FROM sra_metadata "
                        "WHERE study_accession IS NOT NULL ORDER BY 1"),
        "gsm": column("SELECT gsm FROM gsm ORDER BY 1"),
        "gse": column("SELECT gse FROM gse ORDER BY 1"),
    }
    n_files = dir_stats(mart_dir)[0]
    answers, errors, kinds = [], [], {}
    lock = threading.Lock()

    def query(kind: str, sql: str, bounds: tuple | None) -> list:
        if bounds is None:
            return spark.sql(sql).collect()
        lo, hi = bounds
        with tracer.span("engine.catalog.skipping_read") as sp:
            df = skipping_read(spark, mart_dir, "updated_date", _epoch_us(lo), _epoch_us(hi),
                               stats=stats)
        if sp is not None:
            sp.attrs["kept_ratio"] = len(df.inputFiles()) / n_files
        return (df.filter(F.col("updated_date").between(lo, hi))
                .groupBy("library_strategy").agg(F.count(F.lit(1)).alias("n")).collect())

    def client(cid: int, until: float, record: bool) -> None:
        # each client cycles through every kind in its own seeded order,
        # so the mix is the same in every run
        rng = random.Random(run.seed * 1000 + cid + (0 if record else 500))
        order = rng.sample(SERVE_KINDS, len(SERVE_KINDS))
        i = 0
        while time.perf_counter() < until:
            kind = order[i % len(order)]
            i += 1
            sql, bounds = serve_query(kind, rng, keys)
            with tracer.span("query" if record else "query.warmup", kind=kind):
                t0 = time.perf_counter()
                try:
                    rows = query(kind, sql, bounds)
                except Exception as exc:  # noqa: BLE001 - a failed query counts; the loop goes on
                    with lock:
                        errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:200]}")
                    continue
                seconds = time.perf_counter() - t0
            with lock:
                answers.append((sql, oracle.normalize(rows)))
                if record:
                    run.latencies.append((kind, seconds))
                    kinds[kind] = kinds.get(kind, 0) + 1

    def closed_loop(seconds: float, record: bool) -> float:
        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c, t0 + seconds, record),
                                    name=f"client-{c}") for c in range(SERVE_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0

    # Latencies fall for about half a minute after the build while the JIT
    # compiles the query path: point lookups from ~100 to ~60 ms. Measured
    # on that slope, p50 moved by a third between runs, with how fast
    # each run warmed up. A serving session is long-lived, so the same
    # loop runs untimed first, until the slope is flatter.
    closed_loop(SERVE_WARMUP_S, record=False)
    wall = closed_loop(run.seconds, record=True)
    run.detail.update(serve_wall_s=wall, serve_qps=len(run.latencies) / wall, queries=kinds)
    run.tally(errors, len(errors))
    return duck, answers


def warehouse_build(run: Run) -> None:
    wh = Warehouse.fresh(run)
    expected = oracle.expected_warehouse(wh.data, wh.xml, START, END)
    expected["day_rows"] = gen.DAY_EXPERIMENTS
    set_up(run, prepare=lambda spark: None)
    with run.tracer.span("unit", measured=True):
        t0 = time.perf_counter()
        rows, outputs = build_and_publish(run, wh, expected)
        seconds = time.perf_counter() - t0
    run.cold_s = run.work_seconds = seconds
    run.work_rows = rows
    duck, answers = serve(run, wh.export)
    # memory is read before the checks, which load outputs into DuckDB
    run.record_memory()
    check_build(run, wh, expected, outputs)
    run.tally(oracle.check_serve(duck, answers), len(answers))
    duck.close()
    run.detail["expected_models"] = expected["models"]


# -- corpus curation -----------------------------------------------------------------


def corpus_curation(run: Run) -> None:
    path = os.path.join(run.cache, "corpus.parquet")
    expected = oracle.expected_corpus(path)
    out_dir = os.path.join(run.work, "curated")
    state = {}

    def prepare(spark):
        state["df"] = spark.read.parquet(path).select("doc_id", "text")

    set_up(run, prepare)
    # Pass 0 is the cold one. Pass time keeps falling for a few more passes
    # while the JIT compiles the curation path, so WARMUP_PASSES run
    # untimed; then passes are measured for run.seconds, at least
    # MIN_PASSES of them, so one pass slowed by a neighbour on the host
    # does not move the median.
    passes = 0
    while len(run.latencies) < MIN_PASSES or run.work_seconds < run.seconds:
        measured = passes > WARMUP_PASSES
        with run.tracer.span("unit", measured=measured):
            t0 = time.perf_counter()
            with run.tracer.span("engine.curate"):
                stats = curate_corpus(state["df"], out_dir)
            seconds = time.perf_counter() - t0
        run.tally(oracle.check_curation(expected, stats, out_dir), 5)
        if passes == 0:
            run.cold_s = seconds
        passes += 1
        if measured:
            run.latencies.append(("curate", seconds))
            run.work_rows += expected["n_docs"]
            run.work_seconds += seconds
    run.record_memory()
    run.published_bytes = dir_stats(out_dir)[1]
    run.published_rows = stats["n_curated"]
    run.detail["funnel"] = {k: v for k, v in stats.items() if k != "output"}
    if run.tracer.enabled:
        operator_spans(run, state["df"], path)


def operator_spans(run: Run, df, corpus_path: str) -> None:
    """Time each curation operator standalone on the same corpus, with a
    no-op sink, for the per-layer split (traced run only)."""
    import pyarrow.parquet as pq

    def sink(name, out):
        with run.tracer.span(name):
            out.write.format("noop").mode("overwrite").save()

    sink("operators.text.quality_flag", text.quality_flag(df, "text", ["doc_id"], min_tokens=10))
    sink("operators.text.repetition_stats", text.repetition_stats(df, "text", "doc_id"))
    sink("operators.dedup.exact_dedup", dedup.exact_dedup(df, "text", "doc_id"))
    pairs = dedup.minhash_lsh_candidates(
        dedup.shingles(df, "text", "doc_id", n=3, distinct=False), "doc_id")
    sink("operators.dedup.minhash_lsh_candidates", pairs)
    found = [(r["d1"], r["d2"]) for r in pairs.collect()]
    truth = pq.read_table(corpus_path, columns=["doc_id", "origin"]).to_pydict()
    origin = dict(zip(truth["doc_id"], truth["origin"]))
    true_pairs = sum(1 for a, b in found if origin[a] == origin[b])
    run.tracer.named("operators.dedup.minhash_lsh_candidates")[-1].attrs.update(
        candidates=len(found), precision=true_pairs / len(found) if found else 0.0)
    sink("operators.dedup.connected_components_star",
         dedup.connected_components_star(run.spark.createDataFrame(found, "d1 long, d2 long")))


WORKLOADS = {
    "warehouse_build": warehouse_build,
    "corpus_curation": corpus_curation,
}
