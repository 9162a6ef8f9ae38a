"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints THREE JSON lines on stdout: an EARLY compact contract line as
soon as the headline+export record exists (crash/timeout insurance —
the r10 driver run was killed mid-scale and lost everything), then the
full detail dict, then the final compact contract line (guaranteed
<1900 bytes) LAST:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...}
The round driver parses a JSON line out of the final ~2000 chars of
stdout, so the LAST line must fit that window whole; the full detail
(export/scale/oracle sections) goes to the middle line and
BENCH_DETAIL.json.

Every timed row is one entry of ``ROWS``: a name, a section and a body
``(spark, sf_dir, con) -> dict`` that builds the Spark plan and the
DuckDB control and times them through the one paired harness
(:func:`_timed`). The runner runs each section in a fresh child JVM
(``--<section>-only``) in table order — headline, export, then the
optional serve, scale, floor and extract sections. Each optional
section starts only while the wall-clock deadline
($SPARK_GRAFT_BENCH_DEADLINE_SEC, default 1500 s) leaves more than a
minute; a forfeited section is named in ``sections_skipped``. Table
order is the priority: serve runs first among the optional sections.

Each query is forced with a count() action (no driver-side collect of
payload rows — the action measures full plan execution). A warmup run
of a trivial query absorbs JVM/codegen startup.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import sys
import time
from collections import namedtuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from omicidx_gh_etl_spark.operators import (  # noqa: E402
    blooms,
    dedup,
    graph,
    similarity,
)
from omicidx_gh_etl_spark.operators import text as text_ops  # noqa: E402
from omicidx_gh_etl_spark.queries import REGISTRY  # noqa: E402
from omicidx_gh_etl_spark.queries.base import ORACLE_TABLES  # noqa: E402
from omicidx_gh_etl_spark.queries.llmops import (  # noqa: E402
    _BM25_BATCH_Q,
    _BM25_TOKS,
    _BPE_ENC_MERGES,
    _COS,
)
from omicidx_gh_etl_spark.queries.tables import (  # noqa: E402
    load_events,
    load_table,
)
from omicidx_gh_etl_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

# Headline set: the reference-shaped heavy hitters + the scale-path
# training-data operators. (similarity_pairs_threshold is the n² exact
# baseline — excluded; dedup_minhash_lsh is its scale-path counterpart.)
HEADLINE = [
    "mart_denormalized",       # reference's 49.4M-row join+export analogue
    "join_fact_accession",     # bronze detail×accessions join
    "agg_multikey_pricing",    # TPC-H Q1-shape aggregation
    "dedup_latest_by_key",     # window dedup
    "explode_tokens_topk",     # unnest + top-k
    "dedup_exact",
    "dedup_minhash_lsh",       # sub-quadratic near-dup path
    "dedup_simhash",
    "similarity_topk",         # brute-force ANN baseline
    "similarity_ivf_assign",   # ANN scale path
    "similarity_ivf_search",   # full ANN search (probe + cell scan)
    "text_quality",
    "text_winnow_fingerprints",  # rolling-hash fingerprints
    "range_join_events_windows",  # bin-bucketed interval join
    "sessionize_events",
    "session_window_builtin",   # native dynamic session windows
    "sketch_heavy_hitters",     # MG candidates + exact verify
    "interval_coalesce_user_spans",  # one-shuffle span merge
]

# In-plan replication factor of the scale section (per-row factors
# below are multiples of it).
SCALE_REP = 100

Row = namedtuple("Row", "name section body")


# ---------------------------------------------------------------- runner


def main() -> None:
    t_main0 = time.monotonic()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # The r10 record was lost (rc=124, EMPTY tail) because the
    # contract JSON printed only after every section finished. Now the
    # headline+export line prints (flushed) as soon as it exists, and
    # each optional section launches only while wall-clock budget
    # remains; its child's timeout is what remains of that budget.
    deadline_sec = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1500"))

    def _remaining() -> float:
        return deadline_sec - (time.monotonic() - t_main0)

    # Child mode: run ONE section in this (quiet) JVM and emit its dict
    # as the sole stdout JSON line, stamped with start/end host
    # signatures.
    for section in SECTIONS:
        if f"--{section}-only" in sys.argv:
            print(json.dumps(_child(sf_dir, section)))
            return

    # Headline pass in a FRESH child JVM. On a child failure that
    # survives the crash retry, fall back to an in-process pass so the
    # stdout contract (three JSON lines, finite values) still holds.
    hl = _run_child(sf_dir, "headline")
    hl_sig: dict = {}
    if "host_signature" not in hl:
        hl_sig["headline_child_error"] = hl.get("error", "no section record")
        hl = _child(sf_dir, "headline")
    hl_sig = {**hl["host_signature"], **hl_sig}
    names = _row_names("headline")
    timings = {n: hl[n]["sec"] for n in names if "sec" in hl.get(n, {})}
    oracle_timings = {
        n: hl[n]["duckdb_sec"] for n in names if "duckdb_sec" in hl.get(n, {})
    }
    hl_errors = {n: hl[n] for n in names if "error" in hl.get(n, {})}

    # The reference's one concrete figure is build+EXPORT (49.4M rows →
    # zstd parquet in 6.9 s, EXPORT_DEPLOYMENT.md:247-252) — time the
    # same shape end-to-end in a FRESH child JVM paired with a
    # same-moment DuckDB COPY; the headline number is the Spark seconds.
    # On child failure the export dict carries an "error" key and the
    # headline total stays a valid number over the 18 compute queries.
    export = _single(_run_child(sf_dir, "export"), "mart_export_parquet")
    if "sec" in export:
        timings["mart_export_parquet"] = export["sec"]

    # EARLY contract line: printed (flushed) before any optional
    # section, so a stall or an outer timeout mid-scale still leaves a
    # parseable line in the final ~2000 chars of stdout. The final
    # compact line supersedes it for tail parsers.
    early = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "partial": "headline+export only; optional sections follow",
    }
    print(json.dumps(early, separators=(",", ":")), flush=True)

    outs, sections_skipped = _optional_sections(
        sf_dir, _remaining, f"bench deadline ({deadline_sec:.0f}s) reached"
    )
    scale = _assemble(outs)

    total = round(sum(timings.values()), 3)
    oracle = {
        "total": round(sum(oracle_timings.values()), 3),
        "queries": oracle_timings,
        "paired": "interleaved min-of-3, same moment as the Spark runs",
    }
    # record-level warning ORs the headline pass AND every child's own
    # signatures — a clean headline can't mask a weather-hit child
    load_warning = any(
        o.get("host_signature", {}).get("load_warning")
        for o in (hl, export, *outs.values())
    )
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "export": export,
        "scale": scale,
        "oracle_duckdb": oracle,
        "host_signature": {**hl_sig, "load_warning": load_warning},
        "elapsed_sec": round(time.monotonic() - t_main0, 1),
        "deadline_sec": deadline_sec,
        "sections_skipped": sections_skipped,
    }
    if hl_errors:
        detail["headline_errors"] = hl_errors
    # Full detail line, then the compact contract line LAST: the record
    # is parsed from a JSON line in the final ~2000 chars of stdout
    # and the full detail outgrew that window in round 4 ("parsed":
    # null). $SPARK_GRAFT_DETAIL_PATH redirects the detail file so test
    # runs don't clobber the committed sf0.1 record.
    print(json.dumps(detail))
    detail_path = os.environ.get("SPARK_GRAFT_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    if isinstance(oracle.get("total"), (int, float)):
        compact["oracle_duckdb_total"] = oracle["total"]
    if isinstance(export.get("ratio_vs_duckdb"), (int, float)):
        compact["export_ratio_vs_duckdb"] = export["ratio_vs_duckdb"]
    if load_warning:
        compact["load_warning"] = True
    if sections_skipped:
        compact["sections_skipped"] = sections_skipped
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) >= 1900:
        # explicit raise, not assert: asserts vanish under `python -O`
        # and an oversized line silently recreates the r4
        # "parsed": null failure this guard exists to prevent
        raise RuntimeError(f"compact bench line {len(line)}B > tail window")
    print(line)


def _optional_sections(sf_dir: str, remaining, reason: str) -> tuple[dict, list]:
    """Each optional section in table order, each gated on its own: it
    runs only while ``remaining()`` exceeds a minute, and its child's
    timeout (and the crash retry's) is ``remaining()`` at launch. A
    forfeited section is recorded as ``{"skipped": reason}`` and named
    in the returned list — none of them reads another's output, so no
    section is lost silently behind another one."""
    outs: dict = {}
    skipped: list[str] = []
    for section in SECTIONS[2:]:
        if remaining() <= 60:
            skipped.append(section)
            outs[section] = {"skipped": reason}
        else:
            outs[section] = _run_child(sf_dir, section, remaining)
    return outs, skipped


def _single(out: dict, name: str) -> dict:
    """A one-row section's child output flattened: the row's keys plus
    the child's own (host signature, crash markers)."""
    return {**out.get(name, {}), **{k: v for k, v in out.items() if k != name}}


def _assemble(outs: dict) -> dict:
    """Optional-section outputs → the detail's ``scale`` layout: scale
    rows at the top, floor and serve rows under ``floor_at_1m_rows``
    (the serve child's own keys prefixed ``serve_child_``), the extract
    row under ``extract_sra_xml``. A forfeited section leaves its
    skipped/error marker where its rows would be."""
    scale = outs["scale"]
    if "host_signature" in scale:
        scale = {"replication": SCALE_REP, **scale}
    floor = scale["floor_at_1m_rows"] = outs["floor"]
    serve = outs["serve"]
    names = _row_names("serve")
    mark = {k: v for k, v in serve.items() if k in ("error", "skipped")}
    for name in names:
        floor[name] = serve.get(name, mark)
    for k, v in serve.items():
        if k not in names and k not in mark:
            floor[f"serve_child_{k}"] = v
    scale["extract_sra_xml"] = _single(outs["extract"], "extract_sra_xml")
    return scale


def _row_names(section: str) -> list[str]:
    return [r.name for r in ROWS if r.section == section]


def _child(sf_dir: str, section: str) -> dict:
    """Run one section's rows in this process's session, stamped with
    start/end host signatures."""
    spark = get_spark(app_name="bench" if section == "headline" else f"bench-{section}")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    sig_start = _load_signature()
    con = _oracle_con(sf_dir)
    out: dict = {}
    for row in ROWS:
        if row.section == section:
            spark = _isolated_row(out, row.name, row.body, spark, sf_dir, con)
    sig_end = _load_signature()
    out["host_signature"] = {
        "start": sig_start,
        "end": sig_end,
        "load_warning": bool(
            sig_start.get("load_warning") or sig_end.get("load_warning")
        ),
    }
    return out


def _run_child_once(sf_dir: str, section: str, timeout: float) -> dict:
    """One fresh-subprocess-JVM run of ``section``; parse its single
    JSON stdout line. A crashed or timed-out child surfaces as an
    ``error`` key, never an empty dict."""
    import subprocess

    flag = f"--{section}-only"
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), flag],
            capture_output=True, text=True, timeout=timeout,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        )
        for line in reversed(proc.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                res = json.loads(line)
                if _count_row_errors(res) and proc.stderr:
                    # a per-row error survived the in-child retries —
                    # keep the child's stderr tail so the artifact
                    # carries WHAT failed, not only that it failed
                    res["child_stderr_tail"] = proc.stderr[-600:]
                return res
        tail = proc.stderr.strip().splitlines()[-1][:160] if (
            proc.stderr.strip()
        ) else "empty output"
        return {"error": f"{flag} child rc={proc.returncode}: {tail}"}
    except Exception as exc:  # bench must still emit its JSON lines
        return {"error": str(exc)[:200]}


def _run_child(sf_dir: str, section: str, budget=lambda: 2400.0) -> dict:
    """Fresh-process child with ONE crash retry (r9: a transient host
    fault looks identical to a bug from here; a fresh-process re-run is
    the only recovery that can tell them apart). Each attempt's timeout
    is ``budget()`` at its launch, capped at 2400 s, and the retry runs
    only while more than a minute of budget is left — a timed-out
    child is never relaunched with the timeout it already used up. A
    second failure is returned as the error."""
    res = _run_child_once(sf_dir, section, min(2400.0, budget()))
    if "error" not in res or budget() <= 60:
        return res
    retry = _run_child_once(sf_dir, section, min(2400.0, budget()))
    retry["first_error" if "error" in retry else "crash_retried"] = res["error"]
    return retry


def _count_row_errors(res: dict) -> int:
    """Nested "error" keys inside a child's section dict — per-row
    failures that survived the in-child retries."""
    return sum(1 for v in res.values() if isinstance(v, dict) and "error" in v)


def _spark_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def _ensure_spark(spark, app_name: str = "bench-recovered"):
    """Return a LIVE session: the caller's if its context is running,
    else a rebuilt one. The r9 cascade — one row's read failure stopped
    the SparkContext and the NEXT row died on 'Cannot call methods on
    a stopped SparkContext' — is exactly what this guard breaks.

    The rebuild must FORCE-CLEAR the Python-side singletons first: a
    context stopped from Python (sc.stop()) clears `_jsc` and the
    active-context/active-session registries itself, but a context
    that died JVM-SIDE (executor fatal, internal error — the r10
    serve-child failure) leaves them populated, and getOrCreate then
    hands back the SAME dead session; both row attempts die on it."""
    if _spark_alive(spark):
        return spark
    try:
        spark.stop()  # idempotent; clears _jsc + registries when it can
    except Exception:
        pass
    try:  # defensive: a JVM-side death can leave these stale anyway
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        SparkContext._active_spark_context = None
    except Exception:
        pass
    from omicidx_gh_etl_spark.session import get_spark

    fresh = get_spark(app_name=app_name)
    if not _spark_alive(fresh):
        raise RuntimeError("session rebuild returned a stopped context")
    return fresh


def _maybe_inject_fault(key: str, attempt: int, spark) -> None:
    """Test hook (tests/test_bench_contract.py): with
    SPARK_GRAFT_BENCH_INJECT_FAULT=<row key>[:jvm], the named scale
    row's FIRST attempt reproduces a real failure mode — the
    SparkContext is stopped, then the row raises — so the recovery
    path (fresh session + from-scratch retry) stays proven by the
    suite, not assumed. The ``:jvm`` variant stops the context
    JVM-SIDE ONLY, leaving Python's `_jsc`/registries stale — the r10
    serve-child failure shape, strictly harder to recover from than a
    Python-side stop (r9's shape)."""
    spec = os.environ.get("SPARK_GRAFT_BENCH_INJECT_FAULT", "")
    if not spec or attempt != 1:
        return
    want, _, mode = spec.partition(":")
    if want != key:
        return
    if mode == "jvm":
        spark.sparkContext._jsc.sc().stop()
    else:
        spark.sparkContext.stop()
    raise RuntimeError(f"injected fault on {key} ({mode or 'python'})")


def _isolated_row(out: dict, key: str, fn, spark, sf_dir: str, con):
    """Fault-isolated row: ensure a live session BEFORE the row, run
    it, and on any failure retry ONCE from scratch (row bodies create
    their own workdirs and views, so a retry starts clean; a stopped
    context is rebuilt first). Only a second consecutive failure
    records an "error" key — and it no longer poisons later rows.
    Returns the (possibly rebuilt) session for the next row."""
    last = None
    for attempt in (1, 2):
        spark = _ensure_spark(spark)
        try:
            _maybe_inject_fault(key, attempt, spark)
            row = fn(spark, sf_dir, con)
            if attempt > 1:
                row["row_attempts"] = attempt
            out[key] = row
            return spark
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            last = f"{type(exc).__name__}: {str(exc)[:180]}"
    out[key] = {"error": last, "row_attempts": 2}
    return spark


# ---------------------------------------------------------- host weather

# Fixed synthetic DuckDB aggregation (data-independent: 50M-row range
# groupBy) measured min-of-3 on a QUIET host (loadavg ~1.0, round 8).
# Every bench record stamps the same query's current time + loadavg so
# a reader can tell a hot host from a regression without re-litigating;
# deviation >25% from this anchor sets load_warning=true.
CALIB_ANCHOR_SEC = 0.73
_CALIB_SQL = (
    "SELECT count(*) FROM (SELECT range % 9973 AS k, count(*) AS c "
    "FROM range(50000000) GROUP BY 1)"
)
# Single-thread memcpy GB/s on a quiet host (round-8 measurement);
# transfer-heavy Spark paths (Arrow socket + JVM copy chains) degrade
# with ambient MEMORY-BANDWIDTH contention that the CPU-slack probe
# cannot see.
MEMBW_ANCHOR_GBPS = 17.0


def _burn_cpu(sec: float) -> None:
    t0 = time.process_time()
    while time.process_time() - t0 < sec:
        pass


def _cpu_slack() -> float:
    """Wall/CPU ratio of DEFAULT_CPUS parallel 0.15 s busy-loops —
    ~1.0 on an idle box, >1.4 when external tenants contend for the
    cores. This probe feels what SPARK feels: a DuckDB calibration
    query alone measured 1.02× under loadavg 14 while the same moment
    slowed the Spark python-worker pipeline 2.4×."""
    from concurrent.futures import ProcessPoolExecutor

    spin = 0.15
    with ProcessPoolExecutor(DEFAULT_CPUS) as ex:
        list(ex.map(_burn_cpu, [0.01] * DEFAULT_CPUS))  # pool warmup
        t0 = time.perf_counter()
        list(ex.map(_burn_cpu, [spin] * DEFAULT_CPUS))
        wall = time.perf_counter() - t0
    return wall / spin


def _mem_bw() -> float:
    """Effective single-thread copy bandwidth in GB/s: 256 MB
    ``np.copyto`` into a PREALLOCATED destination, min-of-3 after a
    warm pass — both buffers are faulted in first, so the number is
    memcpy bandwidth, not page-fault/allocation cost."""
    import numpy as np

    a = np.ones(32 * 1024 * 1024, dtype=np.float64)  # 256 MB
    b = np.empty_like(a)
    np.copyto(b, a)  # fault in the destination
    best = _timed([lambda: np.copyto(b, a)])[0][0]
    return (2 * a.nbytes) / best / 1e9


def _load_signature() -> dict:
    """Host-weather stamp: 1/5/15-min loadavg, the CPU-slack probe,
    the memcpy-bandwidth probe, and the fixed DuckDB calibration query
    vs the quiet-host anchor. load_warning means: do not treat this
    record's raw seconds as comparable across rounds — re-run on a
    quieter host."""
    sig: dict = {}
    warn = False
    try:
        sig["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        slack = _cpu_slack()
        sig["cpu_slack"] = round(slack, 2)
        warn = warn or slack > 1.4
    except Exception:
        pass
    try:
        bw = _mem_bw()
        sig["membw_gbps"] = round(bw, 1)
        sig["membw_anchor_gbps"] = MEMBW_ANCHOR_GBPS
        warn = warn or bw < MEMBW_ANCHOR_GBPS * 0.7
    except Exception:
        pass
    try:
        con = _duck({})
        best = _timed([lambda: con.execute(_CALIB_SQL).fetchall()])[0][0]
        sig["calib_duckdb_sec"] = round(best, 3)
        sig["calib_anchor_sec"] = CALIB_ANCHOR_SEC
        sig["calib_vs_anchor"] = round(best / CALIB_ANCHOR_SEC, 2)
        warn = warn or bool(
            best > CALIB_ANCHOR_SEC * 1.25 or best < CALIB_ANCHOR_SEC * 0.75
        )
    except Exception:
        pass
    sig["load_warning"] = warn
    return sig


# --------------------------------------------------------------- harness


def _timed(fns, ctls=(), iters: int = 3, ctl_from: int = 0, ctl_runs: int = 1):
    """The one interleaved Spark/DuckDB min-of-N harness.

    Each of ``iters`` iterations runs every Spark action in ``fns``,
    then — from iteration ``ctl_from`` on — every DuckDB control in
    ``ctls`` ``ctl_runs`` times, so host weather hits both engines in
    the same seconds of wall clock (round 5: the headline inflated ~25%
    while a DuckDB total measured minutes later got faster). Min-of-N
    because the first run pays JVM/JIT/codegen costs and single runs
    on a shared host jitter 2-3×. A ``None`` control is absent; a
    control that raises, or runs over 30 s, stops its further runs
    (min-of-1 is still same-moment). A Spark action that raises fails
    the row (the runner's isolated-row retry takes it from there).

    Returns ``(mins, traces, last)``, each aligned with
    ``[*fns, *ctls]``: min seconds (``inf`` when it never completed),
    the per-run seconds, and each callable's last return value."""
    calls = [*fns, *ctls]
    mins = [float("inf")] * len(calls)
    traces: list[list] = [[] for _ in calls]
    last: list = [None] * len(calls)
    live = [c is not None for c in calls]
    for it in range(iters):
        for i, fn in enumerate(calls):
            is_ctl = i >= len(fns)
            if not live[i] or (is_ctl and it < ctl_from):
                continue
            for _ in range(ctl_runs if is_ctl else 1):
                t0 = time.perf_counter()
                try:
                    last[i] = fn()
                except Exception:
                    if not is_ctl:
                        raise
                    live[i] = False
                    break
                one = time.perf_counter() - t0
                traces[i].append(round(one, 3))
                mins[i] = min(mins[i], one)
                if is_ctl and one > 30:
                    live[i] = False
                    break
    return mins, traces, last


def _ratio(row: dict, sec: float, ctl: float, key: str = "duckdb_sec",
           ratio_key: str = "ratio_vs_duckdb") -> dict:
    if ctl < float("inf"):
        row[key] = round(ctl, 3)
        row[ratio_key] = round(sec / ctl, 2)
    return row


def _pair(fn, rows: int, ctl=None, traces: bool = True, **kw) -> dict:
    """The standard paired row over :func:`_timed`: rows, min seconds,
    rows/s, the DuckDB control's min and the ratio — plus the full
    per-iteration traces, so a tenant burst is VISIBLE in the artifact
    instead of silently shaping the min (r8 What's-wrong #2)."""
    (sec, dsec), (s_tr, d_tr), _ = _timed([fn], [ctl], **kw)
    row = {"rows": rows, "sec": round(sec, 3), "rows_per_sec": round(rows / sec)}
    if traces:
        row["spark_trace"] = s_tr
    _ratio(row, sec, dsec)
    if traces and dsec < float("inf"):
        row["duckdb_trace"] = d_tr
    return row


def _ctl(con, sql: str | None):
    """DuckDB control forcing ``sql`` with count(*) — the analogue of
    forcing a Spark plan with .count(); None without a connection."""
    if con is None or sql is None:
        return None
    return lambda: con.execute(f"SELECT count(*) FROM ({sql})").fetchall()


def _duck(views: dict):
    """The one DuckDB connection factory: same thread budget as Spark,
    one ``read_parquet`` view per ``{name: path}``. None when DuckDB is
    unavailable (the bench still emits Spark-only numbers)."""
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads={DEFAULT_CPUS}")
        for name, path in views.items():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
        return con
    except Exception:
        return None


def _oracle_con(sf_dir: str):
    """The oracle views at ``sf_dir`` — the reference-engine side of
    the 2× bar."""
    return _duck({t: f"{sf_dir}/{t}.parquet" for t in ORACLE_TABLES})


# Replica salting for documents: every token of replica r gets the
# suffix _r, so replicas occupy DISJOINT shingle/token spaces — rep
# independent corpora (true weak scaling), not one artificial
# mega-duplicate cluster whose bucket-pair explosion would be quadratic
# in rep. Two regex passes, pinned identical to DuckDB's
# list_filter/list_transform form below, and ~25% faster than Spark's
# interpreted array HOF lambdas.
_SALT = (
    "CASE WHEN trim(text) = '' THEN '' ELSE"
    " concat(regexp_replace(trim(regexp_replace(text, ' +', ' ')),"
    " ' ', concat('_', __rep, ' ')), '_', __rep) END"
)
# table -> (Spark per-replica column exprs over __rep in 1..rep,
#           DuckDB select list over range r in 0..rep-1)
_REPLICAS = {
    "documents": (
        {"doc_id": "doc_id * {rep} + __rep", "text": _SALT},
        "doc_id * {rep} + r.range + 1 AS doc_id, array_to_string("
        "list_transform(list_filter(string_split(text, ' '), x -> x <> ''),"
        " x -> x || '_' || CAST(r.range + 1 AS VARCHAR)), ' ') AS text",
    ),
    "embeddings": (
        {"vec_id": "vec_id * {rep} + __rep", "embedding": "embedding"},
        "vec_id * {rep} + r.range + 1 AS vec_id, embedding",
    ),
    # user_id UNCHANGED: per-user counts and the n/k threshold scale
    # together, so the heavy-hitter set is invariant
    "events": ({"user_id": "user_id"}, "user_id"),
}


def _rep(df, rep: int, table: str | None = None, **cols):
    """Spark half of the replication pair: IN-PLAN rep× replication
    (explode over 1..rep — one scan, no synthetic files). Columns are
    ``table``'s replica columns from ``_REPLICAS`` overridden by
    ``cols`` (SQL exprs that may read ``__rep``); with neither, every
    column is copied as-is."""
    out = df.select("*", F.explode(F.sequence(F.lit(1), F.lit(rep))).alias("__rep"))
    spec = {k: v.format(rep=rep) for k, v in _REPLICAS[table][0].items()} if table else {}
    spec.update(cols)
    if not spec:
        return out.drop("__rep")
    return out.select(*(F.expr(v).alias(k) for k, v in spec.items()))


def _duck_rep(con, view: str, rep: int, table: str, sel: str | None = None,
              tail: str = "") -> str | None:
    """DuckDB half of the replication pair: CREATE OR REPLACE a view
    replaying the identical replication (CROSS JOIN range(rep)) — OR
    REPLACE so a retried row redefines instead of losing its pairing to
    'already exists'. Returns the view name, None without DuckDB."""
    if con is None:
        return None
    sel = sel or _REPLICAS[table][1].format(rep=rep)
    con.execute(
        f"CREATE OR REPLACE VIEW {view} AS SELECT {sel} "
        f"FROM {table} CROSS JOIN range({rep}) r {tail}"
    )
    return view


def _width(spark) -> int:
    return spark.sparkContext.defaultParallelism


def _docs_rep(spark, sf_dir: str, rep: int, text: str = _SALT):
    """rep× salted documents spread over every core by doc_id: the
    explode multiplies rows inside the source's few input partitions,
    and without the spread the hot shingle map runs on 2-3 cores."""
    d = load_table(spark, sf_dir, "documents")
    return _rep(d, rep, "documents", text=text).repartition(_width(spark), "doc_id")


def _bench_tmpdir(prefix: str) -> str:
    """Unique bench workdir under the repo's OWN spark-warehouse
    (gitignored) instead of bare /tmp: the r9 record lost
    `bm25_index_serve` to a FAILED_READ_FILE on a mkdtemp()'d /tmp
    parquet mid-read — on a shared host /tmp is reaped and contended
    by other tenants. Unique per call, so a retried row never collides
    with a half-deleted predecessor's files."""
    import tempfile

    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse", "_bench_tmp",
    )
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path) for f in files
    )


def _must_replace(sql: str, old: str, new: str) -> str:
    """str.replace that FAILS LOUDLY when the pattern is absent.

    The paired DuckDB controls are built by rewriting committed oracle
    SQL (`FROM documents` -> `FROM documents_rep`, md5 chain -> native
    hash()); if the committed text drifts, a bare replace silently
    no-ops and the control runs the WRONG query — wildly wrong ratios
    with no error (round-6 advice). Raising turns drift into a visible
    bench failure instead."""
    if old not in sql:
        raise ValueError(f"oracle rewrite pattern not found: {old[:80]!r}")
    return sql.replace(old, new)


def _minhash_sqls(view: str) -> tuple[str, str]:
    """The committed md5 LSH oracle over ``view`` (the reference
    engine's own LSH) and its native-hash() variant, which gives DuckDB
    the same fast-hash-family advantage Spark's xxhash64 takes —
    neither engine gets a hash the other is denied."""
    md5 = _must_replace(
        REGISTRY["dedup_minhash_lsh"].oracle, "FROM documents)", f"FROM {view})"
    )
    native = _must_replace(
        md5,
        "('0x' || substr(md5(shingle), 1, 11))::BIGINT",
        "CAST(hash(shingle) >> 1 AS BIGINT)",
    )
    return md5, native


def _lsh(df, **kw):
    """The production LSH row shape: 3-shingles → 12 hashes / 4 bands
    on the xxhash64 family (~2× the md5 hex chain at scale; banding
    quality pinned by tests/test_operators.py)."""
    sh = dedup.shingles(df, "text", "doc_id", n=3, distinct=False)
    return dedup.minhash_lsh_candidates(
        sh, "doc_id", num_hashes=12, bands=4, hash_family="xxhash64", **kw
    )


def _ivf_assign_sql(emb_view: str, orig_view: str, n_centroids: int = 10) -> str:
    """DuckDB SQL for the IVF assignment step (every corpus vector ->
    nearest centroid), shared by the full-search control, the sf1
    pairing, and the persisted-index control (where it is materialized
    UNTIMED, mirroring operators/ann_index.py's untimed build)."""
    return f"""
    SELECT e1.vec_id, c.centroid_id, e1.v
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM {emb_view}) e1
    CROSS JOIN (SELECT vec_id AS centroid_id,
                       CAST(embedding AS DOUBLE[]) AS cv
                FROM {orig_view} WHERE vec_id < {n_centroids}) c
    QUALIFY row_number() OVER (
      PARTITION BY e1.vec_id
      ORDER BY round({_COS.format(a='e1.v', b='c.cv')}, 4) DESC,
               centroid_id) = 1"""


def _ivf_serve_sql(
    assigned_src: str,
    orig_view: str,
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 10,
    n_queries: int = 5,
) -> str:
    """DuckDB SQL for the IVF probe+scan+topk step over an assignment
    relation (``assigned_src``: a subquery string or a materialized
    table name). Same rounding/tiebreaks as the committed ivf oracle."""
    return f"""
    WITH c AS (SELECT vec_id AS centroid_id,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM {orig_view} WHERE vec_id < {n_centroids}),
    q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM {orig_view} WHERE vec_id < {n_queries}),
    probes AS (
      SELECT q.q_id, q.qv, c.centroid_id
      FROM q CROSS JOIN c
      QUALIFY row_number() OVER (
        PARTITION BY q.q_id
        ORDER BY round({_COS.format(a='q.qv', b='c.cv')}, 4) DESC,
                 centroid_id) <= {nprobe})
    SELECT p.q_id, a.vec_id,
           round({_COS.format(a='p.qv', b='a.v')}, 4) AS cos_sim
    FROM probes p JOIN {assigned_src} a ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> p.q_id
    QUALIFY row_number() OVER (
      PARTITION BY p.q_id ORDER BY cos_sim DESC, a.vec_id) <= {k}"""


def _pagerank_rep_sql(prep: int) -> str:
    """3-iteration unrolled PageRank over the prep×-replicated bipartite
    event graph — the DuckDB pairing for the graph_pagerank scale row.
    Same structure as the committed graph_pagerank oracle (unrolled
    contribution/rank CTEs, damping 0.85, round 9); the pairs CTE salts
    node ids per replica exactly like the Spark side (u*prep+r,
    kb*prep+r with r in 1..prep -> prep disjoint graphs)."""
    pairs = f"""
    SELECT DISTINCT
      'u:' || CAST(user_id * {prep} + r.range + 1 AS VARCHAR) AS a,
      'k:' || CAST((CAST(json_extract_string(props, '$.k') AS BIGINT)
                    % 100) * {prep} + r.range + 1 AS VARCHAR) AS b
    FROM events CROSS JOIN range({prep}) r
    WHERE json_extract_string(props, '$.k') IS NOT NULL"""
    sql = f"""
    WITH pairs AS ({pairs}),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION SELECT b, a FROM pairs),
    odeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY 1),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 AS pr FROM nodes)"""
    prev = "r0"
    for i in (1, 2, 3):
        sql += f""",
    c{i} AS (
      SELECT e.dst AS node, sum(r.pr / o.odeg) AS contrib
      FROM edges e
      JOIN {prev} r ON e.src = r.node
      JOIN odeg o ON e.src = o.src
      GROUP BY 1),
    r{i} AS (
      SELECT nodes.node,
             round((1.0 - 0.85) + 0.85 * coalesce(c{i}.contrib, 0.0), 9)
               AS pr
      FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node)"""
        prev = f"r{i}"
    return sql + "\n    SELECT node, r3.pr / nn.n AS pr FROM r3 CROSS JOIN nn"


# ---------------------------------------------------------------- rows


def _headline_row(name: str):
    """One headline query: interleaved min-of-3, each Spark run (plan
    build + count) immediately followed by the query's committed
    DuckDB oracle."""
    def body(spark, sf_dir: str, con) -> dict:
        q = REGISTRY[name]
        ctl = None
        if con is not None and q.oracle is not None:
            ctl = lambda: con.execute(q.oracle).fetchall()  # noqa: E731
        (sec, dsec), _, _ = _timed([lambda: q.builder(spark, sf_dir).count()], [ctl])
        return _ratio({"sec": round(sec, 3)}, sec, dsec)

    return body


def _mart_export(spark, sf_dir: str, con, rep: int = 1, iters: int = 3,
                 ctl_from: int = 0) -> dict:
    """The mart join → zstd parquet export at rep× rows, fully
    falsifiable: rows, bytes and rows/s reported, PAIRED with a
    same-moment DuckDB ``COPY TO`` of the identical mart SQL (replicated
    by CROSS JOIN range(rep)) — only a paired control separates
    write-path regressions from the shared host's IO jitter. At rep>1
    the repartition comes BEFORE the explode: the shuffle carries only
    the un-replicated mart (AQE otherwise coalesces 3 MiB to ONE
    partition and the write runs single-threaded)."""
    q = REGISTRY["mart_denormalized"]
    mart = q.builder(spark, sf_dir)
    rows = mart.count() * rep
    sql = q.oracle
    if rep > 1:
        mart = _rep(mart.repartition(_width(spark)), rep)
        sql = f"SELECT m.* FROM ({sql}) m CROSS JOIN range({rep})"
    workdir = _bench_tmpdir("bench_export_")
    out, ctl_path = f"{workdir}/mart", f"{workdir}/mart_duckdb.parquet"
    copy = None
    if con is not None:
        copy = lambda: con.execute(  # noqa: E731
            f"COPY ({sql}) TO '{ctl_path}' (FORMAT parquet, COMPRESSION zstd)"
        )
    try:
        (sec, csec), _, _ = _timed(
            [lambda: mart.write.mode("overwrite").option("compression", "zstd").parquet(out)],
            [copy], iters=iters, ctl_from=ctl_from,
        )
        row = {"rows": rows, "sec": round(sec, 3), "bytes": _dir_bytes(out),
               "rows_per_sec": round(rows / sec)}
        ctl: dict = {}
        if csec < float("inf"):
            ctl = {"sec": round(csec, 3), "bytes": os.path.getsize(ctl_path),
                   "rows_per_sec": round(rows / csec)}
            row["ratio_vs_duckdb"] = round(sec / csec, 2)
        row["duckdb_copy"] = ctl
        return row
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _mart_export_50m(spark, sf_dir: str, con) -> dict:
    """The same export at the reference's published scale: its one
    concrete figure is the 49.4M-row mart exported at ≈7.2M rows/s on
    64 cores (EXPORT_DEPLOYMENT.md:247-252); rep is chosen so rows ≈
    50M, making rows/s directly comparable. One control run at this
    size (~35 s/iteration of child budget)."""
    mart_n = REGISTRY["mart_denormalized"].builder(spark, sf_dir).count()
    if mart_n < 100_000:
        # smoke SFs: a 50M-row write from a 1.5k-row mart is all
        # explode amplification for no signal
        return {"skipped": f"smoke SF (mart={mart_n} rows) — runs at sf0.1"}
    rep50 = max(1, round(50_000_000 / mart_n))
    row = _mart_export(spark, sf_dir, con, rep=rep50, iters=2, ctl_from=1)
    return {**row, "reference_rows_per_sec": 7160000, "reference_cores": 64,
            "cores": DEFAULT_CPUS}


def _minhash_row(spark, sf_dir: str, con) -> dict:
    """MinHash+LSH near-dup at rep× salted documents, paired against
    the md5 oracle and its native-hash() variant over the IDENTICAL
    salted corpus — controls once each, in the warm iteration (each
    costs ~10× the sf1 row at 500k docs)."""
    d_rep = _docs_rep(spark, sf_dir, SCALE_REP)
    n_docs = load_table(spark, sf_dir, "documents").count() * SCALE_REP
    md5 = native = None
    if _duck_rep(con, "documents_rep", SCALE_REP, "documents"):
        md5, native = _minhash_sqls("documents_rep")
    (sec, nat, m5), _, _ = _timed(
        [_lsh(d_rep).count], [_ctl(con, native), _ctl(con, md5)],
        iters=2, ctl_from=1,
    )
    row = {"rows": n_docs, "sec": round(sec, 3), "rows_per_sec": round(n_docs / sec)}
    _ratio(row, sec, nat, "duckdb_hash_sec", "ratio_vs_duckdb_hash")
    return _ratio(row, sec, m5, "duckdb_md5_sec", "ratio_vs_duckdb_md5")


def _minhash_skew_row(spark, sf_dir: str, con) -> dict:
    """SKEW probe (r10 verdict item 6): the banding join's worst shape
    is a mega duplicate cluster — every copy emits the SAME (band,
    bsig) keys, the single-enormous-key case AQE's skew handling
    cannot split. ~10% of the corpus (every 10th base doc's replicas,
    UNSALTED) collapses into one cluster of identical documents. Both
    shapes run with the same ``max_bucket_size`` cap, so the ratio
    isolates the skewed key distribution alone. Pass criterion
    (verdict): ≤ 1.5×. A corpus whose texts are all empty has no
    document to plant: the row is skipped, naming why."""
    d = load_table(spark, sf_dir, "documents")
    first = d.selectExpr(
        "doc_id", "trim(regexp_replace(text, ' +', ' ')) AS t"
    ).filter("t <> ''").orderBy("doc_id").head()
    if first is None:
        return {"skipped": "every document text is empty or whitespace: "
                           "no duplicate cluster to plant"}
    lit = first["t"].replace("\\", "\\\\").replace("'", "\\'")
    skew_text = f"CASE WHEN doc_id % 10 = 0 THEN '{lit}' {_SALT[len('CASE '):]}"
    cand_skew = _lsh(_docs_rep(spark, sf_dir, SCALE_REP, skew_text), max_bucket_size=1000)
    cand_uni = _lsh(_docs_rep(spark, sf_dir, SCALE_REP), max_bucket_size=1000)
    (skew_sec, uni_sec), _, (pairs, _) = _timed(
        [cand_skew.count, cand_uni.count], iters=2
    )
    return {
        "rows": d.count() * SCALE_REP,
        "skew_shape": "10% of corpus one duplicate cluster",
        "max_bucket_size": 1000,
        "sec": round(skew_sec, 3),
        "uniform_sec": round(uni_sec, 3),
        "ratio_vs_uniform": round(skew_sec / uni_sec, 2),
        "pairs": pairs,
    }


def _paragraphs_row(spark, sf_dir: str, con) -> dict:
    """Paragraph-level dedup with document reassembly at rep× docs (the
    corpus-REWRITE hot path: chunk → global first-occurrence window →
    rebuild). ``chunk_stage_sec`` is the chunk-production stage alone —
    ~73% of the row at 500k docs and already the fastest of three
    measured implementations (see operators/dedup.py::paragraph_chunks);
    the residual vs DuckDB is its in-process native split kernel."""
    d_rep = _docs_rep(spark, sf_dir, SCALE_REP)
    n_docs = load_table(spark, sf_dir, "documents").count() * SCALE_REP
    sql = None
    if _duck_rep(con, "documents_rep", SCALE_REP, "documents"):
        sql = _must_replace(
            REGISTRY["dedup_paragraphs_rewrite"].oracle,
            "FROM documents)", "FROM documents_rep)",
        )
    row = _pair(dedup.dedup_paragraphs(d_rep, "text", "doc_id").count, n_docs,
                _ctl(con, sql))
    chunk = _timed([lambda: dedup.paragraph_chunks(d_rep, "text", "doc_id").count()],
                   iters=1)[0][0]
    row["chunk_stage_sec"] = round(chunk, 3)
    return row


def _bpe_row(spark, sf_dir: str, con) -> dict:
    """BPE tokenizer application — the per-shipped-document hot path of
    LLM data prep. Primary = the pandas ranks-dict engine; the
    codegen'd replace-chain sql engine is a sub-row; control = the
    committed oracle over the identical salted corpus, at rep/5 (~100k
    docs: the ratio is already compute-dominated there). count(*)
    prunes the encode on BOTH engines, so each side is forced through
    sum(n_tokens) + sum(length(tokens_str)) — the checksums double as
    a cross-engine value check at scale."""
    rep = max(1, SCALE_REP // 5)
    d_bpe = _docs_rep(spark, sf_dir, rep)
    n_bpe = load_table(spark, sf_dir, "documents").count() * rep

    def _force(engine: str):
        return lambda: text_ops.bpe_encode(
            d_bpe, "text", _BPE_ENC_MERGES, "doc_id", engine=engine
        ).agg(F.sum("n_tokens").alias("s"),
              F.sum(F.length("tokens_str")).alias("l")).head()

    ctl = None
    if _duck_rep(con, "documents_bpe_rep", rep, "documents"):
        bpe_sql = _must_replace(
            REGISTRY["text_bpe_encode"].oracle, "FROM documents", "FROM documents_bpe_rep"
        )
        ctl = lambda: con.execute(  # noqa: E731
            "SELECT CAST(sum(n_tokens) AS BIGINT), "
            f"CAST(sum(length(tokens_str)) AS BIGINT) FROM ({bpe_sql})"
        ).fetchone()
    (sec, sql_sec, dsec), _, (spark_row, _, duck_sums) = _timed(
        [_force("pandas"), _force("sql")], [ctl], iters=2, ctl_from=1
    )
    row = {"rows": n_bpe, "sec": round(sec, 3), "rows_per_sec": round(n_bpe / sec),
           "sql_engine_sec": round(sql_sec, 3)}
    if dsec < float("inf"):
        _ratio(row, sec, dsec)
        row["sums_match"] = tuple(duck_sums) == (spark_row["s"], spark_row["l"])
    return row


def _incremental_lsh_row(spark, sf_dir: str, con) -> dict:
    """Incremental LSH: the daily-batch-vs-corpus shape. The corpus band
    index is PRECOMPUTED (the persisted-index contract); timed work is
    one 10% delta: delta bands + (band, bsig) index join +
    delta-internal pairs — per ingest this costs O(delta), not the
    full-LSH seconds. DuckDB gets the SAME lifecycle split: its band
    index is a TABLE built untimed, matched fast hash families on both
    sides. Both index builds are recorded (r8 verdict item 8)."""
    d_rep = _docs_rep(spark, sf_dir, SCALE_REP)
    n_docs = load_table(spark, sf_dir, "documents").count() * SCALE_REP
    is_delta = (F.col("doc_id") % F.lit(10)) == 0

    def _bands(df):
        return dedup.minhash_band_signatures(
            dedup.shingles(df, "text", "doc_id", n=3, distinct=False),
            "doc_id", num_hashes=12, bands=4, hash_family="xxhash64",
        )

    t0 = time.perf_counter()
    # materialized = read-from-index, not recompute
    index_bands = _bands(d_rep.filter(~is_delta)).localCheckpoint(eager=True)
    spark_build = time.perf_counter() - t0
    delta = d_rep.filter(is_delta)
    n_delta = delta.count()
    inc = dedup.incremental_lsh_candidates(index_bands, _bands(delta), "doc_id")
    inc_sql = duck_build = None
    if _duck_rep(con, "documents_rep", SCALE_REP, "documents"):
        native = _minhash_sqls("documents_rep")[1]
        marker = "SELECT DISTINCT a.doc_id"
        if marker not in native:
            raise ValueError(f"band-prefix marker missing: {marker!r}")
        prefix = native[: native.index(marker)]

        def _bands_sql(where: str) -> str:
            return _must_replace(
                prefix, "FROM documents_rep)", f"FROM documents_rep WHERE {where})"
            ) + "SELECT doc_id, band, bsig FROM bands"

        t0 = time.perf_counter()
        con.execute("DROP TABLE IF EXISTS lsh_index_bands")
        con.execute(f"CREATE TABLE lsh_index_bands AS {_bands_sql('doc_id % 10 <> 0')}")
        duck_build = time.perf_counter() - t0
        inc_sql = f"""
        WITH db AS ({_bands_sql('doc_id % 10 = 0')}),
        cross_pairs AS (
          SELECT DISTINCT least(d.doc_id, i.doc_id) AS d1,
                 greatest(d.doc_id, i.doc_id) AS d2
          FROM db d JOIN lsh_index_bands i
            ON d.band = i.band AND d.bsig = i.bsig
            AND d.doc_id <> i.doc_id),
        internal AS (
          SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM db a JOIN db b
            ON a.band = b.band AND a.bsig = b.bsig
            AND a.doc_id < b.doc_id)
        SELECT * FROM cross_pairs UNION SELECT * FROM internal"""
    row = _pair(inc.count, n_docs, _ctl(con, inc_sql))
    row["delta_rows"] = n_delta
    row["delta_rows_per_sec"] = round(n_delta / row["sec"])
    row["spark_index_build_sec"] = round(spark_build, 3)
    if "duckdb_sec" in row:
        # key names kept from prior rounds: the control runs the
        # matched-fast-hash-family formulation
        row["duckdb_hash_sec"] = row.pop("duckdb_sec")
        row["ratio_vs_duckdb_hash"] = row.pop("ratio_vs_duckdb")
        row["duckdb_index_build_sec"] = round(duck_build, 3)
    return row


def _vecs_rep(spark, sf_dir: str, rep: int):
    """rep× embeddings (same vectors, distinct ids: every IVF cell grows
    rep× uniformly) spread over every core by vec_id."""
    e = load_table(spark, sf_dir, "embeddings")
    return _rep(e, rep, "embeddings").repartition(_width(spark), "vec_id")


def _vectors(e, n: int, id_name: str, vec_name: str):
    """The first ``n`` base vectors as (id, vector) — the bench's
    centroid / probe / hyperplane convention."""
    return e.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias(id_name), F.col("embedding").alias(vec_name)
    )


def _ivf_search_row(spark, sf_dir: str, con) -> dict:
    """IVF ANN search over a rep× corpus — the cell-scan cost the probe
    pruning is supposed to bound; queries/centroids stay fixed. The
    DuckDB side is the identical ad-hoc computation: assign every
    replicated vector to its centroid, probe 2 cells per query, scan +
    topk (round-6 "what's wrong #1": at sf1 the pairing measured
    Spark's 3-shuffle job floor, not the scan)."""
    e = load_table(spark, sf_dir, "embeddings")
    srch = similarity.ivf_search(
        _vecs_rep(spark, sf_dir, SCALE_REP), _vectors(e, 10, "centroid_id", "cv"),
        _vectors(e, 5, "q_id", "qv"), k=5, nprobe=2,
    )
    sql = None
    if _duck_rep(con, "embeddings_rep", SCALE_REP, "embeddings"):
        sql = _ivf_serve_sql(f"({_ivf_assign_sql('embeddings_rep', 'embeddings')})",
                             "embeddings")
    return _pair(srch.count, e.count() * SCALE_REP, _ctl(con, sql), traces=False,
                 iters=2, ctl_from=1, ctl_runs=2)


def _index_search_row(spark, sf_dir: str, con) -> dict:
    """Persisted-index ANN search: the serving shape (index once, search
    many — operators/ann_index.py). The build is UNTIMED setup; the
    timed number is one 150-probe batch against the pinned index
    version, whose IO is the probed cells only (at 5 probes both
    engines measured pure per-job floor). DuckDB gets the SAME
    lifecycle: the assignment materialized as a TABLE untimed, timed
    work = probe + postings join + topk."""
    from omicidx_gh_etl_spark.operators.ann_index import AnnIndex

    e = load_table(spark, sf_dir, "embeddings")
    idx_dir = _bench_tmpdir("bench_annidx_")
    try:
        idx = AnnIndex(idx_dir)
        idx.build(_vecs_rep(spark, sf_dir, SCALE_REP), n_centroids=10,
                  centroids=_vectors(e, 10, "centroid_id", "cv"))
        srch = idx.search(spark, _vectors(e, 150, "q_id", "qv"), k=5, nprobe=2)
        sql = build = None
        if _duck_rep(con, "embeddings_rep", SCALE_REP, "embeddings"):
            t0 = time.perf_counter()
            con.execute("DROP TABLE IF EXISTS ann_assigned")
            con.execute("CREATE TABLE ann_assigned AS "
                        + _ivf_assign_sql("embeddings_rep", "embeddings"))
            build = time.perf_counter() - t0
            sql = _ivf_serve_sql("ann_assigned", "embeddings", n_queries=150)
        row = _pair(srch.count, e.count() * SCALE_REP, _ctl(con, sql), traces=False,
                    iters=2, ctl_from=1)
        if "duckdb_sec" in row:
            row["duckdb_index_build_sec"] = round(build, 3)
        return row
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def _bloom_semi_row(spark, sf_dir: str, con) -> dict:
    """Bloom-pruned semi join at rep× probe rows: lineitem replicas
    (remapped orderkeys so selectivity is preserved) semi-joined to the
    urgent-order key set through the caller-sized bitmap — the big
    side is cut map-side, so the timed cost tracks the SCAN. Parallelism
    comes from a round-robin repartition of the BASE rows before the
    explode (a hash-repartition of the exploded rows was exactly the
    big-side shuffle the operator exists to avoid). The bitmap is sized
    to the ~3M-key set: 2^25 bits = 10.7 bits/key → FPR ≈ 1.5% at k=3.
    ``plain_semi_no_bloom_sec`` is the local-economics reference: on
    one node the shuffle is a memory copy, so the bloom's win is
    shuffled BYTES, which pays on a network."""
    rep = SCALE_REP
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    li_rep = _rep(li.repartition(_width(spark)), rep,
                  l_orderkey=f"l_orderkey * {rep} + __rep", l_returnflag="l_returnflag")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    urgent_rep = _rep(urgent, rep, o_orderkey=f"o_orderkey * {rep} + __rep")
    bsj = blooms.bloom_semi_join(
        li_rep, urgent_rep, "l_orderkey", "o_orderkey", num_bits=1 << 25
    )
    plain = li_rep.join(urgent_rep.select(F.col("o_orderkey").alias("l_orderkey")),
                        "l_orderkey", "left_semi")
    sql = None
    if _duck_rep(con, "lineitem_rep", rep, "lineitem",
                 f"l_orderkey * {rep} + r.range + 1 AS l_orderkey, l_returnflag"):
        _duck_rep(con, "urgent_rep", rep, "orders",
                  f"o_orderkey * {rep} + r.range + 1 AS o_orderkey",
                  "WHERE o_orderpriority = '1-URGENT'")
        # DuckDB's own best formulation of this shape: the plain IN-probe
        sql = ("SELECT l.* FROM lineitem_rep l "
               "WHERE l.l_orderkey IN (SELECT o_orderkey FROM urgent_rep)")
    row = _pair(bsj.count, li.count() * rep, _ctl(con, sql))
    row["plain_semi_no_bloom_sec"] = round(_timed([plain.count])[0][0], 3)
    return row


def _covariance_row(spark, sf_dir: str, con) -> dict:
    """Embedding covariance at 500k vectors (the PCA/whitening reduce):
    one BLAS-gemm moment partial per Arrow batch vs DuckDB's best SQL
    formulation — dim² native covar_samp aggregates over projected
    element columns in one scan (dim derived from the data, like the
    Spark side)."""
    rep = SCALE_REP * 5 // 2
    e = load_table(spark, sf_dir, "embeddings")
    cov = similarity.covariance_matrix(
        _rep(e.repartition(_width(spark)), rep, "embeddings"), "embedding"
    )
    ctl = None
    if _duck_rep(con, "embeddings_cov_rep", rep, "embeddings"):
        dims = range(1, e.selectExpr("size(embedding) AS d").head()["d"] + 1)
        cols = ", ".join(f"CAST(embedding[{i}] AS DOUBLE) AS c{i}" for i in dims)
        aggs = ", ".join(f"covar_samp(c{i}, c{j})" for i in dims for j in dims)
        cov_sql = f"WITH p AS (SELECT {cols} FROM embeddings_cov_rep) SELECT {aggs} FROM p"
        ctl = lambda: con.execute(cov_sql).fetchone()  # noqa: E731
    return _pair(cov.count, e.count() * rep, ctl, traces=False, iters=2, ctl_from=1)


def _multiprobe_row(spark, sf_dir: str, con) -> dict:
    """Multi-probe LSH RECALL at 200k vectors — the Lv-2007 claim
    ((nbits+1) query-side probes recover the recall single-probe LSH
    loses) measured against exact brute-force truth (arrow gemm
    engine): top-5 recall for the SAME 8-hyperplane index probed
    single-bucket vs multi-probe, with seconds for both. The replicated
    corpus holds rep exact COPIES of every probe; the eval excludes each
    probe's own replicas so recall is measured on genuinely DISTINCT
    neighbors, with k raised so ≥5 survive the exclusion."""
    rep = SCALE_REP
    e = load_table(spark, sf_dir, "embeddings")
    e_rep = _vecs_rep(spark, sf_dir, rep)
    hyper = _vectors(e, 8, "hp_id", "hv")
    n_probes = 40
    probes = _vectors(e, n_probes, "q_id", "qv")
    k_eval, k_fetch = 5, 5 + rep
    mp = similarity.lsh_multiprobe_topk(e_rep, probes, hyper, k=k_fetch)
    sp = similarity.lsh_multiprobe_topk(e_rep, probes, hyper, k=k_fetch,
                                        flip_probes=False)
    truth = similarity._brute_topk(
        e_rep.selectExpr("vec_id", "cast(embedding as array<double>) AS v"),
        probes.selectExpr("q_id", "cast(qv as array<double>) AS qvd"),
        k_fetch, "vec_id", "q_id", engine="arrow",
    )

    def _by_q(rows):
        # replicas of base id b carry ids b*rep+1 .. b*rep+rep — drop
        # the probe's own copies, keep the top k_eval others
        m: dict = {}
        for r in rows:
            if (int(r["vec_id"]) - 1) // rep != int(r["q_id"]):
                m.setdefault(r["q_id"], []).append(r["vec_id"])
        return {q: set(v[:k_eval]) for q, v in m.items()}

    t_truth = _by_q(sorted(
        truth.collect(), key=lambda r: (r["q_id"], -r["cos_sim"], r["vec_id"])
    ))
    (sec_mp, sec_sp), _, (mp_rows, sp_rows) = _timed([mp.collect, sp.collect], iters=2)
    qs = [q for q, t in t_truth.items() if t]

    def _recall(rows) -> float:
        got = _by_q(sorted(rows, key=lambda r: (r["q_id"], r["rk"])))
        return round(sum(
            len(got.get(q, set()) & t_truth[q]) / len(t_truth[q]) for q in qs
        ) / max(len(qs), 1), 3)

    return {
        "rows": e.count() * rep, "n_hyperplanes": 8, "n_probes": n_probes,
        "k": k_eval, "self_replicas_excluded": True,
        "recall_multiprobe": _recall(mp_rows),
        "recall_single_probe": _recall(sp_rows),
        "sec_multiprobe": round(sec_mp, 3),
        "sec_single_probe": round(sec_sp, 3),
    }


def _pagerank_row(spark, sf_dir: str, con) -> dict:
    """PageRank on a prep× event graph (re-salted property buckets →
    prep disjoint bipartite graphs): the iterative-join throughput
    number — edges×iterations per second. prep = rep/2 (~7M edges at
    sf0.1): at rep/10 the Spark side was ~1 s/iteration of shuffle
    floor and the paired ratio measured scheduling. Control: the
    committed 3-iteration unrolled-CTE oracle shape over the
    identically salted graph."""
    prep = max(1, SCALE_REP // 2)
    kb = F.try_variant_get(F.parse_json("props"), "$.k", "bigint") % 100
    base = load_events(spark, sf_dir).select(
        F.col("user_id").alias("u"), kb.alias("kb")
    ).filter(F.col("kb").isNotNull())
    pairs = _rep(base, prep, a=f"concat('u:', u * {prep} + __rep)",
                 b=f"concat('k:', kb * {prep} + __rep)").distinct()
    edges = pairs.union(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).repartition(_width(spark), "a")
    n_edges = edges.count()
    # one operator BUILD per run: pagerank checkpoints its loop-static
    # edge frame, and a reused DataFrame lets the scheduler skip
    # completed shuffle stages on the second count (measured 0.12 s
    # "runs" — stage reuse, not the algorithm); builds stay untimed
    runs = iter([graph.pagerank(edges, "a", "b", iterations=3) for _ in range(2)])
    sql = _pagerank_rep_sql(prep) if con is not None else None
    (sec, dsec), _, _ = _timed([lambda: next(runs).count()], [_ctl(con, sql)],
                               iters=2, ctl_from=1, ctl_runs=2)
    row = {"edges": n_edges, "iterations": 3, "sec": round(sec, 3),
           "edge_iters_per_sec": round(3 * n_edges / sec)}
    return _ratio(row, sec, dsec)


def _sf1_file_backed(spark, sf_dir: str, con, rep: int = 10) -> dict:
    """mart_denormalized, dedup_minhash_lsh and similarity_ivf_search
    at 10× sf0.1 off disk (real multi-file parquet, so the scan has
    genuine parallelism), Spark vs DuckDB on identical files — the 2×
    bar evaluated where the per-query scheduling floor doesn't
    dominate. Replication keeps each query's join/dedup semantics:
    orders AND customer replicate together with remapped keys (every
    order still matches exactly one customer; nation/region are
    fixed-size at every TPC-H SF and copy as-is); documents salt each
    replica's tokens into a disjoint shingle space; embeddings re-id
    only."""
    sf1_dir = _bench_tmpdir("bench_sf1_")
    sf1: dict = {"replication": rep}

    def _write(name: str, df) -> None:
        df.write.mode("overwrite").parquet(f"{sf1_dir}/{name}.parquet")

    try:
        e = load_table(spark, sf_dir, "embeddings")
        _write("documents", _rep(load_table(spark, sf_dir, "documents"), rep,
                                 "documents").repartition(16))
        _write("embeddings", _rep(e, rep, "embeddings").repartition(16))
        for name, keys in (("orders", ("o_orderkey", "o_custkey")),
                           ("customer", ("c_custkey",))):
            t = load_table(spark, sf_dir, name)
            _write(name, _rep(t, rep, **{
                c: (f"{c} * {rep} + __rep" if c in keys else f"`{c}`")
                for c in t.columns
            }).repartition(16))
        for dim in ("nation", "region"):
            _write(dim, load_table(spark, sf_dir, dim))
        con1 = _duck({
            **{t: f"{sf1_dir}/{t}.parquet/*.parquet"
               for t in ("documents", "orders", "customer", "nation", "region",
                         "embeddings")},
            "emb0": f"{sf_dir}/embeddings.parquet",
        })

        def _paired(df, n_rows: int, sql=None, twin: str | None = None) -> dict:
            row = _pair(df.count, n_rows, _ctl(con1, sql), traces=False, iters=2)
            # sub-second Spark walls at this SF are job-floor shapes;
            # flag them so the ratio can't be read as a design verdict —
            # the named at-scale twin is the compute-dominated
            # measurement of the same plan (r7 verdict What's-wrong #3)
            if row["sec"] < 1.0:
                row["floor_dominated"] = True
                if twin:
                    row["at_scale_twin"] = twin
            return row

        q = REGISTRY["mart_denormalized"]
        sf1["mart_denormalized"] = _paired(
            q.builder(spark, sf1_dir),
            spark.read.parquet(f"{sf1_dir}/orders.parquet").count(),
            q.oracle, "scale.mart_export_parquet (15M rows, paired)",
        )
        # minhash LSH: the PRODUCTION row is the xxhash64 family, its
        # PRIMARY ratio the matched-fast-family pairing (DuckDB native
        # hash()); the cross-family md5-oracle control is suffixed, and
        # the like-for-like md5-vs-md5 bar lives on the _md5 row
        d1 = spark.read.parquet(f"{sf1_dir}/documents.parquet")
        n1 = d1.count()
        md5, native = _minhash_sqls("documents")
        (sec, m5, nat), _, _ = _timed(
            [_lsh(d1).count], [_ctl(con1, md5), _ctl(con1, native)], iters=2
        )
        row = {"rows": n1, "sec": round(sec, 3), "rows_per_sec": round(n1 / sec),
               "hash_family": "xxhash64"}
        _ratio(row, sec, nat)
        sf1["dedup_minhash_lsh"] = _ratio(row, sec, m5, "duckdb_md5_sec",
                                          "ratio_vs_duckdb_md5")
        sf1["dedup_minhash_lsh_md5"] = _paired(
            dedup.minhash_lsh_candidates(
                dedup.shingles(d1, "text", "doc_id", n=3, distinct=False),
                "doc_id", num_hashes=12, bands=4,
            ), n1, md5,
        )
        # IVF: centroids/queries from the ORIGINAL corpus (emb0), the
        # replicated corpus as the scanned cells
        e1 = spark.read.parquet(f"{sf1_dir}/embeddings.parquet")
        sf1["similarity_ivf_search"] = _paired(
            similarity.ivf_search(e1, _vectors(e, 10, "centroid_id", "cv"),
                                  _vectors(e, 5, "q_id", "qv"), k=5, nprobe=2),
            e1.count(),
            _ivf_serve_sql(f"({_ivf_assign_sql('embeddings', 'emb0')})", "emb0"),
            "scale.similarity_ivf_search (200k vectors, paired)",
        )
        return sf1
    finally:
        shutil.rmtree(sf1_dir, ignore_errors=True)


def _topk_floor_row(spark, sf_dir: str, con) -> dict:
    """similarity_topk @ 10M vectors (2000 × 5000): brute-force cosine
    top-10 against the original query vector — map-only scan +
    TakeOrdered vs DuckDB's cross-join + ORDER BY LIMIT. At 1M the wall
    is ~50% task/python-worker orchestration; at 10M compute+transfer
    dominate. PRIMARY engine is the BLOCK storage layout
    (pack into 2048-vector blocks driver-side, untimed like every index
    build; ids re-based per replica IN the kernel, global = local × rep
    + r); spark.range(rep) × broadcast(blocks) spreads replicas across
    all cores. The per-row arrow engine stays as a sub-row so the
    layout win stays measured. Decomposition (r9 verdict item 6): the
    SAME input stream timed with a JVM-only action (``jvm_plan_sec``:
    scan/broadcast/generate floor) and a pass-through mapInArrow that
    ships every block to Python and computes nothing
    (``arrow_ship_sec``) — ship − jvm is the Arrow boundary, row − ship
    the gemv kernel."""
    import numpy as np

    rep = 5000
    width = _width(spark)
    e = load_table(spark, sf_dir, "embeddings")
    n_vec = e.count() * rep
    e_rep = _rep(e.repartition(width), rep, "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sql = None
    if _duck_rep(con, "embeddings_rep_1m", rep, "embeddings"):
        sql = f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings_rep_1m),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, round({_COS.format(a='v', b='qv')}, 4) AS cos_sim
        FROM e CROSS JOIN q
        ORDER BY cos_sim DESC, vec_id
        LIMIT 10"""
    base = sorted(e.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"])
    dims = len(base[0]["embedding"])
    blk = [
        (bytearray(np.array([r["vec_id"] for r in chunk], dtype="<i8").tobytes()),
         bytearray(np.array([r["embedding"] for r in chunk], dtype="<f4").tobytes()))
        for chunk in (base[lo : lo + 2048] for lo in range(0, len(base), 2048))
    ]
    bb = spark.createDataFrame(blk, "ids binary, vecs binary")
    # range with EXPLICIT numPartitions, not .repartition(width): a
    # repartition shuffle costs a stage barrier (measured up to 2× on a
    # loaded host); 2×width tasks smooth straggler skew
    bb_rep = (
        spark.range(0, rep, 1, 2 * width)
        .select((F.col("id") + 1).alias("__off"))
        .crossJoin(F.broadcast(bb))
    )

    def _blocks():
        return similarity.cosine_topk_blocks(
            bb_rep, query, k=10, dims=dims, id_scale=rep, id_offset_col="__off"
        )

    def _ship_only(batches):
        import pyarrow as pa

        n = 0
        for batch in batches:
            n += batch.num_rows
        yield pa.RecordBatch.from_pydict({"n": pa.array([n], "int64")})

    # Arrow batch sizing: at ~78 block-rows per task the default 10k-row
    # bound yields ONE 40 MB batch per task and producer and kernel
    # serialize; 16 rows (8 MB) gives ~5 batches/task and measured
    # 2.5 s → 1.8 s. Restored after the row.
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        row = _pair(_blocks().count, n_vec, _ctl(con, sql), iters=5)
        jvm = _timed([lambda: bb_rep.agg(F.sum(F.length("vecs"))).head()])[0][0]
        row["jvm_plan_sec"] = round(jvm, 3)
        shipped = bb_rep.mapInArrow(_ship_only, "n long")
        row["arrow_ship_sec"] = round(_timed([lambda: shipped.agg(F.sum("n")).head()])[0][0], 3)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    row["engine"] = "blocks"
    row["arrow_batch_rows"] = 16
    arrow = similarity.cosine_topk(e_rep, query, k=10, engine="arrow")
    row["arrow_engine_sec"] = round(_timed([arrow.count], iters=5)[0][0], 3)
    # cross-engine value check: the layouts must agree row for row
    row["engines_match"] = (
        [tuple(r) for r in _blocks().collect()] == [tuple(r) for r in arrow.collect()]
    )
    return row


def _dedup_exact_floor_row(spark, sf_dir: str, con) -> dict:
    """dedup_exact @ 1M docs (5000 × 200, salted → per-replica dup
    structure identical to sf0.1): md5-of-text groupBy on both sides."""
    rep = 200
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d_rep = _rep(d.repartition(_width(spark)), rep, "documents")
    sql = None
    if _duck_rep(con, "documents_rep_1m", rep, "documents"):
        sql = _must_replace(
            REGISTRY["dedup_exact"].oracle, "FROM documents", "FROM documents_rep_1m"
        )
    return _pair(dedup.exact_dedup(d_rep, "text", "doc_id").count, d.count() * rep,
                 _ctl(con, sql), iters=5)


def _hh_floor_row(spark, sf_dir: str, con) -> dict:
    """sketch_heavy_hitters at 25M rows / ~20M distinct keys: replicated
    events UNIONed with a 4×-sized tail of singleton keys — MG's design
    premise is a key cardinality too large to shuffle/hash in full
    (over the base's few hundred users DuckDB measured 7 ms). k=600
    keeps the hitter set identical to the base query's (threshold n/120
    over 1/5 of the rows). PRIMARY row = what the registered query's
    adaptive engine (engine="auto") picks for this shape — its
    plan-time approx_count_distinct decision job runs at CONSTRUCTION
    and is recorded separately; on local[N] auto picks EXACT (the
    shuffle never leaves the JVM), on a cluster MG. The other engine is
    a sub-row so the crossover stays measured."""
    from omicidx_gh_etl_spark.operators.sketch import heavy_hitters

    rep = 50
    ev = load_events(spark, sf_dir).select("user_id")
    n_base = ev.count() * rep
    n_tail = 4 * n_base
    tail = spark.range(n_tail).select((F.col("id") + F.lit(10**12)).alias("user_id"))
    ev_all = _rep(ev.repartition(_width(spark)), rep, "events").unionByName(tail)
    sql = None
    if _duck_rep(con, "events_hh_scale", rep, "events",
                 tail=f"UNION ALL SELECT range + 1000000000000 AS user_id "
                      f"FROM range({n_tail})"):
        sql = _must_replace(
            _must_replace(REGISTRY["sketch_heavy_hitters"].oracle,
                          "FROM events", "FROM events_hh_scale"),
            "/ 120.0", "/ 600.0",
        )
    t0 = time.perf_counter()
    auto_df = heavy_hitters(ev_all, "user_id", 600)
    decision = time.perf_counter() - t0
    choice = getattr(auto_df, "_hh_engine", "mg")
    row = _pair(auto_df.count, n_base + n_tail, _ctl(con, sql), iters=5)
    row["tail_unique_keys"] = n_tail
    row["engine"] = f"{choice}(auto)"
    row["auto_decision_sec"] = round(decision, 3)
    other = "exact" if choice == "mg" else "mg"
    other_df = heavy_hitters(ev_all, "user_id", 600, engine=other)
    row[f"spark_{other}_sec"] = round(_timed([other_df.count], iters=5)[0][0], 3)
    if "duckdb_sec" in row:
        row[f"{other}_ratio_vs_duckdb"] = round(
            row[f"spark_{other}_sec"] / row["duckdb_sec"], 2
        )
    return row


def _salted_files(spark, sf_dir: str, rep: int, tmpdir: str):
    """rep× salted documents WRITTEN once to parquet (untimed
    scaffolding both engines then read from the same files)."""
    _rep(load_table(spark, sf_dir, "documents"), rep, "documents").repartition(
        _width(spark)
    ).write.mode("overwrite").parquet(f"{tmpdir}/docs")
    return spark.read.parquet(f"{tmpdir}/docs")


def _rrf_row(spark, sf_dir: str, con, rep: int = 400, rep_vec: int = 100) -> dict:
    """RRF hybrid retrieval at scale: BM25 top-20 over a FILE-BACKED
    2M-doc salted corpus + brute-cosine top-20 over the 200k-vector
    corpus, reciprocal-rank-fused, paired against DuckDB running the
    committed oracle over the IDENTICAL files. Both engines get their
    corpus-tokenization intermediate untimed (Spark: bm25_batch_topk's
    materialized reduced projection; DuckDB: the oracle's ``sized``
    CTE as a table); timed is the retrieval itself. rep=400: at 500k
    docs the Spark side was ~2 s of multi-stage floors on ~0.6 s of
    work. Query terms are salted to replica 1. Decomposition (r9
    verdict item 6): the two rankings read DIFFERENT corpora, so the
    sub-timings show whether the fused total is just rank_lexical +
    rank_vector or carries overhead worth chasing."""
    e = load_table(spark, sf_dir, "embeddings")
    n_rows = load_table(spark, sf_dir, "documents").count() * rep + e.count() * rep_vec
    tmpdir = _bench_tmpdir("bench_rrf_")
    try:
        d_mat = _salted_files(spark, sf_dir, rep, tmpdir)
        q_terms = spark.createDataFrame(
            [(i, f"{t}_1") for i, t in _BM25_BATCH_Q], "q_id int, term string"
        )
        trank = text_ops.bm25_batch_topk(
            d_mat, q_terms, "text", "doc_id", k=20
        ).select("q_id", "doc_id", "rk")
        vrank = similarity.cosine_batch_topk(
            _vecs_rep(spark, sf_dir, rep_vec), _vectors(e, 3, "q_id", "qv"), k=20
        ).selectExpr("q_id", "vec_id AS doc_id", "rk")
        fused = text_ops.rrf_fuse([trank, vrank], topk=10)
        sql = None
        if _duck_rep(con, "embeddings_rep_rrf", rep_vec, "embeddings"):
            con.execute(
                f"CREATE OR REPLACE TABLE rrf_sized_mat AS SELECT doc_id, {_BM25_TOKS}"
                f" AS t FROM read_parquet('{tmpdir}/docs/*.parquet')"
            )
            sql = REGISTRY["retrieval_rrf_hybrid"].oracle
            for old, new in (
                (", ".join(f"({i}, '{t}')" for i, t in _BM25_BATCH_Q),
                 ", ".join(f"({i}, '{t}_1')" for i, t in _BM25_BATCH_Q)),
                (f"SELECT doc_id, {_BM25_TOKS} AS t FROM documents)",
                 "SELECT doc_id, t FROM rrf_sized_mat)"),
                ("AS v FROM embeddings)", "AS v FROM embeddings_rep_rrf)"),
                ("qv AS (SELECT vec_id AS q_id, v AS qvd FROM e WHERE vec_id < 3)",
                 "qv AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qvd "
                 "FROM embeddings WHERE vec_id < 3)"),
            ):
                sql = _must_replace(sql, old, new)
        row = _pair(fused.count, n_rows, _ctl(con, sql), traces=False)
        (t_sec, v_sec), _, _ = _timed([trank.count, vrank.count], iters=2)
        row["bm25_rank_sec"] = round(t_sec, 3)
        row["vector_rank_sec"] = round(v_sec, 3)
        row["fusion_overhead_sec"] = round(max(0.0, row["sec"] - t_sec - v_sec), 3)
        return row
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
        if con is not None:
            with contextlib.suppress(Exception):
                con.execute("DROP TABLE IF EXISTS rrf_sized_mat")


def _bm25_index_row(spark, sf_dir: str, con, rep: int = 400, n_buckets: int = 256,
                    n_query_replicas: int = 10) -> dict:
    """BM25 serve-from-DISK at scale: a 2M-doc salted corpus is indexed
    ONCE into term-bucketed storage (operators/bm25_index.py) and a
    20-query batch is served from the on-disk form — the lexical
    index-once/query-many lifecycle row, mirroring the ANN
    ``similarity_index_search`` row. Both engines build their index
    UNTIMED from the SAME files and both builds are recorded; DuckDB's
    postings table is ``ORDER BY term`` (its zone-map analog of Spark's
    term bucketing). Timed is the serve itself; query terms are salted
    to replicas 1..n_query_replicas so the batch spans many buckets.
    Sub-rows: the pruned postings scan alone (the IO the bucketing
    bounds), the build + K batches lifecycle, and the SAME index
    serving a 10× batch (floors amortize, scans prune)."""
    from omicidx_gh_etl_spark.operators.bm25_index import Bm25Index

    n_docs = load_table(spark, sf_dir, "documents").count() * rep
    tmpdir = _bench_tmpdir("bench_bm25idx_")
    idx = Bm25Index(spark, "bm25bench")
    duck_tables = ("bm25b_sized", "bm25b_stats", "bm25b_postings", "bm25b_dfreq")
    try:
        d_mat = _salted_files(spark, sf_dir, rep, tmpdir)
        t0 = time.perf_counter()
        idx.build(d_mat, "text", "doc_id", n_buckets=n_buckets)
        spark_build = time.perf_counter() - t0

        def _batch(n_reps: int):
            qvals = [(r * 10 + i, f"{t}_{r}") for r in range(1, n_reps + 1)
                     for i, t in _BM25_BATCH_Q]
            served = idx.serve(spark.createDataFrame(qvals, "q_id int, term string"), k=10)
            return qvals, served

        qvals, served = _batch(n_query_replicas)
        plan = served._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        m = re.search(r"SelectedBucketsCount: (\d+ out of \d+)", plan)
        duck_build = None

        def _serve_sql(qv):
            if duck_build is None:
                return None
            vals = ", ".join(f"({i}, '{t}')" for i, t in qv)
            return f"""
            WITH q(q_id, term) AS (VALUES {vals}),
            contrib AS (
              SELECT q.q_id, p.doc_id,
                     ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                     * (p.tf * (1.2 + 1.0))
                     / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl))
                       AS part
              FROM bm25b_postings p
              JOIN q ON p.term = q.term
              JOIN bm25b_dfreq d ON p.term = d.term
              CROSS JOIN bm25b_stats s),
            scored AS (
              SELECT q_id, doc_id, round(sum(part), 4) AS score
              FROM contrib GROUP BY 1, 2)
            SELECT q_id, doc_id, score, rk FROM (
              SELECT q_id, doc_id, score,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY score DESC, doc_id) AS rk
              FROM scored WHERE score > 0)
            WHERE rk <= 10"""

        if con is not None:
            t0 = time.perf_counter()
            for stmt in (
                f"bm25b_sized AS SELECT doc_id, {_BM25_TOKS} AS t "
                f"FROM read_parquet('{tmpdir}/docs/*.parquet')",
                "bm25b_stats AS SELECT count(*) AS n, avg(len(t)) AS avgdl "
                "FROM bm25b_sized",
                "bm25b_postings AS SELECT doc_id, term, dl, count(*) AS tf FROM ("
                "  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM bm25b_sized) "
                "GROUP BY 1, 2, 3 ORDER BY term",
                "bm25b_dfreq AS SELECT term, count(*) AS df FROM bm25b_postings "
                "GROUP BY 1 ORDER BY term",
            ):
                con.execute(f"CREATE OR REPLACE TABLE {stmt}")
            duck_build = time.perf_counter() - t0
        serve_sql = _serve_sql(qvals)
        row = _pair(served.count, n_docs, _ctl(con, serve_sql), iters=5)
        row["n_buckets"] = n_buckets
        row["n_queries"] = len({q for q, _ in qvals})
        if m:
            row["selected_buckets"] = m.group(1)
        row["spark_index_build_sec"] = round(spark_build, 3)
        if duck_build is not None:
            row["duckdb_index_build_sec"] = round(duck_build, 3)
        # the pruned postings scan alone vs the serve total — the
        # remainder is the q_id agg/rank tail + Spark's per-job floor,
        # which the embedded engine's clustered point lookup doesn't pay
        pruned = idx.pruned_postings(sorted({t for _, t in qvals}))
        row["pruned_scan_sec"] = round(_timed([pruned.count])[0][0], 3)
        # the lifecycle the deployment actually pays (the reference
        # publishes an artifact once and serves many batches,
        # DEPLOYMENT.md:436-507): build + K batches breaks even at K
        if duck_build is not None and "duckdb_sec" in row:
            s_serve, d_serve = row["sec"], row["duckdb_sec"]
            if s_serve > d_serve and duck_build > spark_build:
                row["lifecycle_even_batches"] = round(
                    (duck_build - spark_build) / (s_serve - d_serve), 1
                )
            row["lifecycle_ratio_at_10_batches"] = round(
                (spark_build + 10 * s_serve) / (duck_build + 10 * d_serve), 2
            )
        row["ratio_context"] = (
            "serve ratio is JVM-job-floor-bound at this batch size "
            "(pruned_scan_sec is the IO term; the embedded engine's "
            "clustered point lookup pays no floor) — the deployment "
            "comparison is the lifecycle fields and the per-query "
            "amortization sub-row below"
        )
        qvals_big, served_big = _batch(10 * n_query_replicas)
        big = _pair(served_big.count, n_docs, _ctl(con, _serve_sql(qvals_big)))
        n_q_big = len({q for q, _ in qvals_big})
        row["big_batch"] = {
            "n_queries": n_q_big,
            "sec": big["sec"],
            "per_query_ms": round(1000 * big["sec"] / n_q_big, 2),
            "small_batch_per_query_ms": round(1000 * row["sec"] / row["n_queries"], 2),
            "spark_trace": big["spark_trace"],
        }
        if "duckdb_sec" in big:
            row["big_batch"]["duckdb_sec"] = big["duckdb_sec"]
            row["big_batch"]["ratio_vs_duckdb"] = big["ratio_vs_duckdb"]
        # cross-engine value check: the serve rows must agree exactly
        if serve_sql is not None:
            def _norm(rows):
                return sorted((r[0], r[1], float(r[2]), int(r[3])) for r in rows)

            row["values_match"] = (
                _norm(served.collect()) == _norm(con.execute(serve_sql).fetchall())
            )
        return row
    finally:
        # a failed row's session may be dead: cleanup must not mask its
        # error; the DuckDB tables go so a retried row (same shared
        # connection) rebuilds them
        shutil.rmtree(tmpdir, ignore_errors=True)
        drops = [(spark.sql, t) for t in
                 (idx.postings_table, idx.dfreq_table, idx.stats_table)]
        if con is not None:
            drops += [(con.execute, t) for t in duck_tables]
        for drop, t in drops:
            with contextlib.suppress(Exception):
                drop(f"DROP TABLE IF EXISTS {t}")


def _ann_recall_curve(spark, sf_dir: str, con, rep: int = 100, k: int = 10,
                      n_queries: int = 40) -> dict:
    """Measured recall-vs-cost curves for the two ANN scale paths at a
    200k-vector corpus (r9 verdict item 3). Each base vector is
    replicated with a DETERMINISTIC per-replica, per-dimension
    perturbation (a ±0.3 additive lattice on a ~N(0, 0.35²) component
    scale → within-family cosine well above the ≤0.51 cross-family
    background), so replicas form genuine near-neighbor families with
    spread. Ground truth is the exact brute-force cosine top-k (arrow
    gemm engine) over the SAME corpus; probes are corpus members with
    only the exact self excluded. Each config records recall@k and its
    serve seconds (min-of-2, the search rebuilt per run: a reused
    Dataset reuses its computed shuffle stages)."""
    e = load_table(spark, sf_dir, "embeddings")
    perturb = ("transform(cast(embedding AS array<double>), (x, j) -> "
               "x + 0.05 * (pmod(__rep * 31 + j * 17, 13) - 6))")
    # one corpus materialization: every config (and the truth) reads
    # the same vectors without recompute
    e_rep = _rep(e.repartition(_width(spark)), rep,
                 vec_id=f"vec_id * {rep} + __rep", v=perturb).localCheckpoint(eager=True)
    corpus = e_rep.selectExpr("vec_id", "v AS embedding")
    # probes: replica 1 of the first n_queries base vectors
    probes = e_rep.filter(
        (F.col("vec_id") % rep == 1) & (F.col("vec_id") < F.lit(n_queries * rep))
    ).select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))

    def _sets(rows, rank):
        m: dict = {}
        for r in sorted(rows, key=lambda r: (r["q_id"], rank(r), int(r["vec_id"]))):
            if int(r["vec_id"]) != int(r["q_id"]):  # exact self
                m.setdefault(r["q_id"], []).append(int(r["vec_id"]))
        return {q: set(v[:k]) for q, v in m.items()}

    def _by_cos(r):
        return -r["cos_sim"]

    truth = _sets(similarity._brute_topk(
        e_rep, probes.selectExpr("q_id", "qv AS qvd"), k + 1,
        "vec_id", "q_id", engine="arrow",
    ).collect(), _by_cos)
    qs = [q for q, t in truth.items() if t]

    def _measure(build, rank) -> dict:
        runs = iter([build() for _ in range(2)])
        (sec,), _, (rows,) = _timed([lambda: next(runs).collect()], iters=2)
        got = _sets(rows, rank)
        recall = sum(len(got.get(q, set()) & truth[q]) / len(truth[q]) for q in qs)
        return {"recall": round(recall / max(len(qs), 1), 3), "sec": round(sec, 3)}

    out: dict = {
        "corpus_rows": e.count() * rep, "k": k, "n_queries": n_queries,
        "truth": "exact brute cosine (arrow gemm engine)",
        "ivf": [], "lsh_multiprobe": [],
    }
    # IVF sweep: 100 cells (first-100 base vectors as centroids — the
    # bench convention), nprobe from 1 to 16
    centroids = _vectors(e, 100, "centroid_id", "cv")
    for nprobe in (1, 2, 4, 8, 16):
        res = _measure(lambda: similarity.ivf_search(
            corpus, centroids, probes, k=k + 1, nprobe=nprobe), _by_cos)
        out["ivf"].append({"n_centroids": 100, "nprobe": nprobe, **res})
    # multi-probe LSH sweep: hyperplane count 4 → 12 (fewer bits =
    # bigger buckets = higher recall at higher scan cost)
    for nbits in (4, 8, 12):
        hyper = _vectors(e, nbits, "hp_id", "hv")
        res = _measure(lambda: similarity.lsh_multiprobe_topk(
            corpus, probes, hyper, k=k + 1), lambda r: r["rk"])
        out["lsh_multiprobe"].append({"n_hyperplanes": nbits, **res})
    servable = [
        (fam, c) for fam in ("ivf", "lsh_multiprobe") for c in out[fam]
        if c["recall"] >= 0.8
    ]
    if servable:
        fam, cfg = min(servable, key=lambda fc: fc[1]["sec"])
        out["servable_config"] = {"family": fam, **cfg}
    return out


def _extract_row(spark, sf_dir: str, con) -> dict:
    """S10 extract-path throughput (r9 verdict item 5 — the
    reference's operational extract numbers: sra/extract.py:49 streams
    XML in 1M-row chunks single-process, ebi_biosample/README.md
    budgets a 3-6 h backfill): synthetic SRA-shaped EXPERIMENT_SET XML
    is generated once (untimed, executor-parallel, deterministic
    content), then

    - **Spark side (timed)**: the `cli.py extract --source sra` path —
      ``sources/xml_extract.py::extract_experiments`` (mapInPandas
      fan-out, one task per file) → chunked zstd parquet
      (``sources/writers.py::write_parquet``), end to end;
    - **control (timed, same moment)**: the reference's own
      operational shape — ONE process looping the identical files
      through the identical ElementTree generator, buffering records
      and writing zstd parquet chunks via pyarrow (its 1M-row-chunk
      pattern).

    The ratio is the distributed-parse claim: parse is CPU-bound, so
    the mapInPandas fan-out should approach core-count speedup over
    the single-process loop. XML volume scales with SF so the
    smoke-SF contract test stays fast."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from omicidx_gh_etl_spark.sources.writers import write_parquet
    from omicidx_gh_etl_spark.sources.xml_extract import (
        _records,
        extract_experiments,
    )

    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_files = 64
    recs_per_file = 11000 if sf >= 0.05 else 150
    workdir = _bench_tmpdir("bench_extract_")
    xml_dir = os.path.join(workdir, "xml")
    os.makedirs(xml_dir, exist_ok=True)

    def _write_files(idxs):
        # one synthetic EXPERIMENT_SET file per task — ~1.3 KB/record,
        # deterministic from (file, record) indices alone
        for i in idxs:
            parts = ["<EXPERIMENT_SET>"]
            for j in range(recs_per_file):
                rid = i * recs_per_file + j
                attrs = "".join(
                    f"<EXPERIMENT_ATTRIBUTE><TAG>attr_{a}</TAG>"
                    f"<VALUE>value {rid % 997} token{(rid * 31 + a) % 211} "
                    f"{'payload ' * 12}end</VALUE></EXPERIMENT_ATTRIBUTE>"
                    for a in range(6)
                )
                parts.append(
                    f'<EXPERIMENT accession="SRX{rid:08d}"'
                    f' center_name="CENTER_{rid % 43}">'
                    f"<TITLE>Sequencing run {rid} of sample set"
                    f" {rid % 331}</TITLE>"
                    f'<STUDY_REF accession="SRP{rid % 5000:06d}"/>'
                    f"<DESIGN><SAMPLE_DESCRIPTOR"
                    f' accession="SRS{rid % 90000:07d}"/></DESIGN>'
                    f"<PLATFORM><ILLUMINA><INSTRUMENT_MODEL>model"
                    f" {rid % 17}</INSTRUMENT_MODEL></ILLUMINA></PLATFORM>"
                    f"<EXPERIMENT_ATTRIBUTES>{attrs}"
                    f"</EXPERIMENT_ATTRIBUTES></EXPERIMENT>"
                )
            parts.append("</EXPERIMENT_SET>")
            with open(f"{xml_dir}/sra_{i:04d}.xml", "w") as fh:
                fh.write("".join(parts))
            yield i

    def _single_process(ctl_dir: str) -> None:
        # the reference's operational shape: one Python process, same
        # parser, 1M-row pyarrow chunks
        os.makedirs(ctl_dir, exist_ok=True)
        buf: list = []
        chunk_no = 0
        for p in xml_files:
            for rec in _records(p):
                buf.append(rec)
                if len(buf) >= 1_000_000:
                    pq.write_table(pa.Table.from_pylist(buf),
                                   f"{ctl_dir}/chunk_{chunk_no:04d}.parquet",
                                   compression="zstd")
                    chunk_no += 1
                    buf.clear()
        if buf:
            pq.write_table(pa.Table.from_pylist(buf),
                           f"{ctl_dir}/chunk_{chunk_no:04d}.parquet",
                           compression="zstd")

    try:
        spark.sparkContext.parallelize(range(n_files), n_files).mapPartitions(
            _write_files
        ).count()
        xml_files = sorted(_glob.glob(f"{xml_dir}/*.xml"))
        xml_bytes = sum(os.path.getsize(p) for p in xml_files)
        n_recs = n_files * recs_per_file
        out_dir, ctl_dir = f"{workdir}/parquet", f"{workdir}/parquet_ctl"
        (sec, ctl), _, _ = _timed(
            [lambda: write_parquet(extract_experiments(spark, xml_files), out_dir,
                                   max_records_per_file=1_000_000, compression="zstd")],
            [lambda: _single_process(ctl_dir)], iters=2, ctl_from=1,
        )
        row = {
            "rows": n_recs,
            "n_files": n_files,
            "xml_bytes": xml_bytes,
            "sec": round(sec, 3),
            "rows_per_sec": round(n_recs / sec),
            "xml_mb_per_sec": round(xml_bytes / sec / 1e6, 1),
            "parquet_bytes": _dir_bytes(out_dir),
            "rows_match": spark.read.parquet(out_dir).count() == n_recs,
            "reference_anchor": (
                "sra/extract.py:49 single-process 1M-row chunks; "
                "ebi_biosample/README.md 3-6h backfill"
            ),
        }
        if ctl < float("inf"):
            ctl_rows = sum(pq.read_metadata(f).num_rows
                           for f in _glob.glob(f"{ctl_dir}/*.parquet"))
            _ratio(row, sec, ctl, "single_process_sec", "ratio_vs_single_process")
            row["rows_match"] = bool(row["rows_match"] and ctl_rows == n_recs)
        return row
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


# ----------------------------------------------------------- the table

# Every timed row: (name, section, body). Sections run in the order
# they first appear here, each in its own fresh child JVM — after a few
# hundred stages the same plans run 1.3-5× slower from accumulated
# driver/executor wear (running scale first inflated every headline
# query 1.2-1.4×; in the scale child the floor rows' blocks scan
# measured 2× and the identical RRF plan 3.4 s vs 1.4 s fresh). Serve
# runs first among the optional sections: it needs nothing another
# section produces, and the r11 records lost it at the end of the
# deadline. Its rows land under scale.floor_at_1m_rows, the layout the
# round-to-round diffs read.
ROWS = [
    *(Row(q, "headline", _headline_row(q)) for q in HEADLINE),
    Row("mart_export_parquet", "export", _mart_export),
    Row("retrieval_rrf_hybrid", "serve", _rrf_row),
    Row("bm25_index_serve", "serve", _bm25_index_row),
    Row("ann_recall_curve", "serve", _ann_recall_curve),
    Row("mart_export_parquet", "scale",
        lambda spark, sf_dir, con: _mart_export(spark, sf_dir, con, SCALE_REP, iters=2)),
    Row("mart_export_parquet_50m", "scale", _mart_export_50m),
    Row("dedup_minhash_lsh", "scale", _minhash_row),
    Row("dedup_minhash_lsh_skew", "scale", _minhash_skew_row),
    Row("dedup_paragraphs_rewrite", "scale", _paragraphs_row),
    Row("text_bpe_encode", "scale", _bpe_row),
    Row("dedup_incremental_lsh", "scale", _incremental_lsh_row),
    Row("similarity_ivf_search", "scale", _ivf_search_row),
    Row("similarity_index_search", "scale", _index_search_row),
    Row("join_bloom_pruned_semi", "scale", _bloom_semi_row),
    Row("embedding_covariance", "scale", _covariance_row),
    Row("similarity_multiprobe_recall", "scale", _multiprobe_row),
    Row("graph_pagerank", "scale", _pagerank_row),
    Row("sf1_file_backed", "scale", _sf1_file_backed),
    Row("similarity_topk", "floor", _topk_floor_row),
    Row("dedup_exact", "floor", _dedup_exact_floor_row),
    Row("sketch_heavy_hitters", "floor", _hh_floor_row),
    Row("extract_sra_xml", "extract", _extract_row),
]
SECTIONS = list(dict.fromkeys(r.section for r in ROWS))


if __name__ == "__main__":
    main()
