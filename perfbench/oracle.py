"""Correctness checks that do not use the program.

Every expected value is computed with DuckDB (or plain Python for the
XML the generator wrote) over the generated input files, and every
actual value is read back from what the program wrote, again with
DuckDB/pyarrow. A check returns a list of mismatch strings; each
mismatch counts as one failed operation.
"""

from __future__ import annotations

import datetime as dt
import glob
import gzip
import os
import xml.etree.ElementTree as ET

import duckdb

# Exported tables: export dir name -> model it publishes.
EXPORTS = {
    "sra_metadata": "mart.sra_metadata",
    "gsm": "geometadb.gsm",
    "gse": "geometadb.gse",
    "gpl": "geometadb.gpl",
    "gse_gsm": "geometadb.gse_gsm",
    "gse_gpl": "geometadb.gse_gpl",
    "geo_supplemental_files": "geometadb.geo_supplemental_files",
}

MART_COLUMNS = (
    "experiment_accession", "experiment_title", "platform", "instrument_model",
    "library_strategy", "library_source", "library_selection", "updated_date",
    "status", "bioproject", "biosample", "study_accession", "study_title",
    "study_type", "sample_accession", "organism", "taxon_id",
)


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _xml_experiments(xml_dir: str) -> list[dict]:
    rows = []
    for path in sorted(glob.glob(os.path.join(xml_dir, "*.xml.gz"))):
        with gzip.open(path, "rb") as fh:
            for exp in ET.parse(fh).getroot().iter("EXPERIMENT"):
                rows.append({
                    "accession": exp.get("accession"),
                    "title": exp.findtext("TITLE"),
                    "platform": next(iter(exp.find("PLATFORM"))).tag,
                    "study_accession": exp.find("STUDY_REF").get("accession"),
                    "sample_accession": exp.find("DESIGN/SAMPLE_DESCRIPTOR").get("accession"),
                })
    return rows


def _setup_sources(con, root: str, xml_dir: str, start: str, end: str) -> None:
    """Views of the generated inputs, and the bronze/mart expectations the
    model definitions imply, as plain DuckDB SQL."""
    q = lambda p: os.path.join(root, p).replace("'", "''")  # noqa: E731
    con.execute(f"CREATE VIEW acc AS SELECT * FROM read_parquet('{q('sra/sra_accessions.parquet/*.parquet')}')")
    xml = _xml_experiments(xml_dir)
    con.execute("CREATE TABLE xml_exp (accession VARCHAR, title VARCHAR, platform VARCHAR, "
                "study_accession VARCHAR, sample_accession VARCHAR)")
    if xml:
        con.executemany("INSERT INTO xml_exp VALUES (?, ?, ?, ?, ?)",
                        [tuple(r.values()) for r in xml])
    con.execute(f"""
        CREATE VIEW exp_detail AS
        SELECT accession, title, platform, instrument_model, library_strategy,
               library_source, library_selection, study_accession, sample_accession
        FROM read_parquet('{q('sra/bench*Full-experiment-*.parquet')}')
        UNION ALL
        SELECT accession, title, platform, NULL, NULL, NULL, NULL, study_accession,
               sample_accession FROM xml_exp""")
    win = f"CAST(a.Updated AS DATE) BETWEEN DATE '{start}' AND DATE '{end}'"
    for ent, typ, src in (("experiments", "EXPERIMENT", "exp_detail"),
                          ("studies", "STUDY", f"read_parquet('{q('sra/bench*Full-study-*.parquet')}')"),
                          ("samples", "SAMPLE", f"read_parquet('{q('sra/bench*Full-sample-*.parquet')}')"),
                          ("runs", "RUN", f"read_parquet('{q('sra/bench*Full-run-*.parquet')}')")):
        con.execute(f"""
            CREATE VIEW b_{ent} AS
            SELECT d.*, CAST(a.Updated AS DATE) AS updated_date, a.Status AS status_,
                   a.BioSample AS biosample_, a.BioProject AS bioproject_
            FROM {src} d JOIN acc a ON d.accession = a.Accession AND a.Type = '{typ}'
            WHERE {win}""")
    con.execute(f"CREATE VIEW b_accessions AS SELECT * FROM acc a WHERE {win}")
    between = f"BETWEEN DATE '{start}' AND DATE '{end}'"
    for ent, name in (("gsm", "geo_samples"), ("gse", "geo_series"), ("gpl", "geo_platforms")):
        con.execute(f"""
            CREATE VIEW b_{name} AS SELECT * FROM read_ndjson(
                '{q(f"geo/{ent}*.ndjson.gz")}', format='newline_delimited',
                columns={{'accession': 'VARCHAR', 'last_update_date': 'DATE',
                          'sample_id': 'VARCHAR[]', 'series_id': 'VARCHAR[]',
                          'supplemental_files': 'VARCHAR[]'}})
            WHERE last_update_date {between}""")
    for name, glob_, col in (("ncbi_biosample", "biosample/biosample-*.parquet", "last_update"),
                             ("ncbi_bioproject", "biosample/bioproject-*.parquet", "release_date"),
                             ("ebi_biosample", "ebi_biosample/biosamples-*.parquet", '"update"')):
        con.execute(f"""
            CREATE VIEW b_{name} AS SELECT * FROM read_parquet('{q(glob_)}')
            WHERE CAST(substr({col}, 1, 10) AS DATE) {between}""")
    con.execute("""
        CREATE VIEW x_mart AS
        SELECT e.accession AS experiment_accession, e.title AS experiment_title, e.platform,
               e.instrument_model, e.library_strategy, e.library_source, e.library_selection,
               e.updated_date, e.status_ AS status, e.bioproject_ AS bioproject,
               e.biosample_ AS biosample, st.accession AS study_accession,
               st.title AS study_title, st.study_type, sa.accession AS sample_accession,
               sa.organism, sa.taxon_id
        FROM b_experiments e
        LEFT JOIN b_studies st ON e.study_accession = st.accession
        LEFT JOIN b_samples sa ON e.sample_accession = sa.accession""")


def _row_hash(relation: str) -> tuple:
    """Order-insensitive hash of the mart columns of ``relation``."""
    cols = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '<null>')" for c in MART_COLUMNS)
    return (f"SELECT count(*), CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', {cols})), 1, 15)) "
            f"AS BIGINT)::HUGEINT) AS VARCHAR) FROM {relation}")


def expected_warehouse(root: str, xml_dir: str, start: str, end: str) -> dict:
    """Expected model row counts, export row counts, the mart hash and
    per-day bronze experiment partition counts for one build window."""
    con = _con()
    try:
        _setup_sources(con, root, xml_dir, start, end)
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        models = {f"bronze.stg_sra_{e}": one(f"SELECT count(*) FROM b_{e}")
                  for e in ("experiments", "studies", "samples", "runs", "accessions")}
        for name in ("geo_samples", "geo_series", "geo_platforms", "ncbi_biosample",
                     "ncbi_bioproject", "ebi_biosample"):
            models[f"bronze.stg_{name}"] = one(f"SELECT count(*) FROM b_{name}")
        models["mart.sra_metadata"] = one("SELECT count(*) FROM x_mart")
        exports = {
            "sra_metadata": models["mart.sra_metadata"],
            "gsm": models["bronze.stg_geo_samples"],
            "gse": models["bronze.stg_geo_series"],
            "gpl": models["bronze.stg_geo_platforms"],
            "gse_gsm": one("SELECT count(*) FROM (SELECT DISTINCT accession, unnest(sample_id) FROM b_geo_series)"),
            "gse_gpl": one("SELECT count(*) FROM (SELECT DISTINCT accession, unnest(series_id) FROM b_geo_platforms)"),
            "geo_supplemental_files": one(
                "SELECT count(*) FROM (SELECT unnest(supplemental_files) f FROM b_geo_series "
                "UNION ALL SELECT unnest(supplemental_files) FROM b_geo_samples) WHERE f <> 'NONE'"),
        }
        days = dict(con.execute(
            "SELECT CAST(updated_date AS VARCHAR), count(*) FROM b_experiments GROUP BY 1").fetchall())
        return {"models": models, "exports": exports,
                "mart_hash": list(con.execute(_row_hash("x_mart")).fetchone()),
                "experiment_days": days}
    finally:
        con.close()


def check_warehouse(expected: dict, results: list, warehouse: str, export_root: str,
                    catalog: dict, remote_db: str, audits: list) -> list[str]:
    """Compare one build+publish iteration against ``expected``."""
    bad = []
    got = {r.model: r for r in results}
    for r in results:
        if r.status != "success":
            bad.append(f"model {r.model} {r.status}: {(r.error or '')[:200]}")
    for model, n in expected["models"].items():
        r = got.get(model)
        if r is not None and r.rows_affected != n:
            bad.append(f"model {model}: rows {r.rows_affected} != expected {n}")
    for a in audits:
        if a.status != "pass":
            bad.append(f"audit {a.audit} on {a.model}: {a.bad_rows} bad rows")
    con = _con()
    try:
        tables = catalog.get("tables", {})
        for name, n in expected["exports"].items():
            path = os.path.join(export_root, name, "**", "*.parquet").replace("'", "''")
            actual = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
            if actual != n:
                bad.append(f"export {name}: {actual} rows != expected {n}")
            if tables.get(name, {}).get("row_count") != actual:
                bad.append(f"catalog.json {name}: row_count {tables.get(name, {}).get('row_count')} != {actual}")
        mart = os.path.join(export_root, "sra_metadata", "**", "*.parquet").replace("'", "''")
        h = list(con.execute(_row_hash(f"read_parquet('{mart}')")).fetchone())
        if h != expected["mart_hash"]:
            bad.append(f"mart.sra_metadata hash {h} != expected {expected['mart_hash']}")
        part = os.path.join(warehouse, "bronze", "stg_sra_experiments", "*", "*.parquet").replace("'", "''")
        days = dict(con.execute(
            f"SELECT CAST(updated_date AS VARCHAR), count(*) FROM read_parquet('{part}', "
            "hive_partitioning = true) GROUP BY 1").fetchall())
        if days != expected["experiment_days"]:
            diff = sorted(set(days.items()) ^ set(expected["experiment_days"].items()))[:4]
            bad.append(f"bronze.stg_sra_experiments day partitions differ: {diff}")
    finally:
        con.close()
    remote = duckdb.connect(remote_db, read_only=True)
    try:
        for name, meta in tables.items():
            n = remote.execute(f'SELECT count(*) FROM "{name}"').fetchone()[0]
            if n != meta["row_count"]:
                bad.append(f"remote view {name}: {n} rows != catalog {meta['row_count']}")
    finally:
        remote.close()
    return bad


# -- mart serve ----------------------------------------------------------------


def serve_connection(export_root: str) -> duckdb.DuckDBPyConnection:
    con = _con()
    for name in EXPORTS:
        path = os.path.join(export_root, name, "**", "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(rows) -> list:
    """Rows as sorted tuples of plain values (dates as ISO strings)."""
    def v(x):
        if isinstance(x, (dt.date, dt.datetime)):
            return x.isoformat()
        if isinstance(x, float):
            return round(x, 6)
        return x
    return sorted((tuple(v(x) for x in r) for r in rows), key=repr)


def check_serve(con, answers: list[tuple[str, list]]) -> list[str]:
    """``answers`` = (DuckDB SQL, normalized Spark rows) per query."""
    bad = []
    cache: dict[str, list] = {}
    for sql, rows in answers:
        if sql not in cache:
            cache[sql] = normalize(con.execute(sql).fetchall())
        if cache[sql] != rows:
            bad.append(f"serve answer differs: {sql[:160]} spark={rows[:3]} duckdb={cache[sql][:3]}")
    return bad


# -- corpus curation ---------------------------------------------------------------


def expected_corpus(path: str) -> dict:
    con = _con()
    try:
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT text) FROM read_parquet('{path}')").fetchone()
        return {"n_docs": n, "distinct_texts": distinct}
    finally:
        con.close()


def check_curation(expected: dict, stats: dict, out_dir: str) -> list[str]:
    bad = []
    if stats.get("n_docs") != expected["n_docs"]:
        bad.append(f"curate n_docs {stats.get('n_docs')} != corpus rows {expected['n_docs']}")
    if stats.get("exact_keeper") != expected["distinct_texts"]:
        bad.append(f"curate exact_keeper {stats.get('exact_keeper')} != distinct texts {expected['distinct_texts']}")
    splits = sum(stats.get(f"n_{s}", 0) for s in ("train", "val", "test"))
    if splits != stats.get("n_curated"):
        bad.append(f"curate splits sum {splits} != n_curated {stats.get('n_curated')}")
    con = _con()
    try:
        p = os.path.join(out_dir, "**", "*.parquet").replace("'", "''")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{p}')").fetchone()[0]
    finally:
        con.close()
    if n != stats.get("n_curated"):
        bad.append(f"curated output has {n} rows != n_curated {stats.get('n_curated')}")
    if not 0 < stats.get("n_curated", 0) < expected["n_docs"]:
        bad.append(f"curate kept {stats.get('n_curated')} of {expected['n_docs']} docs")
    return bad

