"""Seeded input generators for the benchmark.

Everything here is benchmark-side data generation: pure numpy/pyarrow,
no Spark, never inside a timed region. The same seed gives byte-for-byte
the same inputs; sizes are fixed, the seed only changes values.

Three generators:

- :func:`genomics_root` — a raw data root in the program's raw globs
  (``models/genomics.py::_RAW_SOURCES``): SRA experiments / runs /
  samples / studies + the accessions table as parquet, GEO gsm/gse/gpl
  as NDJSON.gz, NCBI biosample / bioproject and EBI biosample parquet.
- :func:`day_delta` — the newest day's SRA experiments: an
  ``EXPERIMENT_SET`` XML file plus the matching accession rows.
- :func:`corpus` — a curation corpus drawn from the vocabulary of the
  repository's ``documents.parquet`` fixture, replicated with seeded
  word-drop near-duplicates and planted exact duplicates.

``python3 gen.py <dir> <seed>`` writes all three under ``<dir>``, with a
``manifest.json`` of what was planted. The benchmark runs it as a child
process, so generation does not count in the benchmark's peak memory.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Raw "Updated" dates span DATA_START..DATA_END; the build window is
# WINDOW_START..DAY, where DAY is the newest day, whose experiments arrive
# as XML and go through the extract step. Rows dated before WINDOW_START
# are scanned but not written, so the bronze useful ratio is below 1 by a
# known amount. Every bronze model writes one partition per day, and the
# per-partition cost sets the build time, so the window is one week.
DATA_START = dt.date(2024, 3, 24)
WINDOW_START = dt.date(2024, 3, 26)
DATA_END = dt.date(2024, 3, 31)
DAY = dt.date(2024, 4, 1)


# Input sizes. SRA experiments, samples and runs are EXPERIMENTS each;
# the other sources scale with it.
EXPERIMENTS = 40_000
STUDIES = EXPERIMENTS // 20
GEO_SAMPLES = EXPERIMENTS // 2
GEO_SERIES_EVERY = 10  # samples per series
GEO_PLATFORMS = 40
NCBI_BIOSAMPLES = EXPERIMENTS // 2
BIOPROJECTS = STUDIES
EBI_BIOSAMPLES = EXPERIMENTS // 2
DAY_EXPERIMENTS = 400  # new experiments in the newest day's XML

# Curation corpus: base documents, and shares of the final corpus.
BASE_DOCS = 1250
EXACT_DUP_SHARE = 0.10  # verbatim copies
NEAR_DUP_SHARE = 0.15  # one-word-drop copies
SHORT_SHARE = 0.08  # of the base docs: below the 10-token quality floor
REPETITIVE_SHARE = 0.08  # of the base docs: one repeated word pair


ORGANISMS = [
    ("Homo sapiens", 9606), ("Mus musculus", 10090), ("Rattus norvegicus", 10116),
    ("Danio rerio", 7955), ("Drosophila melanogaster", 7227),
    ("Arabidopsis thaliana", 3702), ("Saccharomyces cerevisiae", 4932),
    ("human gut metagenome", 408170),
]
PLATFORMS = ["ILLUMINA", "OXFORD_NANOPORE", "PACBIO_SMRT", "ION_TORRENT"]
INSTRUMENTS = ["Illumina NovaSeq 6000", "Illumina HiSeq 2500", "MinION", "Sequel II"]
STRATEGIES = ["RNA-Seq", "WGS", "AMPLICON", "ChIP-Seq", "ATAC-seq", "WXS", "Bisulfite-Seq"]
SOURCES = ["TRANSCRIPTOMIC", "GENOMIC", "METAGENOMIC", "OTHER"]
SELECTIONS = ["cDNA", "RANDOM", "PCR", "ChIP", "size fractionation"]
STUDY_TYPES = ["Transcriptome Analysis", "Whole Genome Sequencing", "Metagenomics", "Other"]
SUPPL_SUFFIXES = ["_RAW.tar", "_counts.txt.gz", "_peaks.bed.gz", "_matrix.h5"]

# Word list of the repository's documents.parquet fixture (31 tokens).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def exp_acc(i: int) -> str:
    return f"SRX{i:07d}"


def sample_acc(i: int) -> str:
    return f"SRS{i:07d}"


def study_acc(i: int) -> str:
    return f"SRP{i:06d}"


def gsm_acc(i: int) -> str:
    return f"GSM{i:07d}"


def gse_acc(i: int) -> str:
    return f"GSE{i:06d}"


def _dates(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    days = (hi - lo).days + 1
    return np.datetime64(lo.isoformat(), "D") + rng.integers(0, days, n).astype("timedelta64[D]")


def _timestamps(rng: np.random.Generator, days: np.ndarray) -> np.ndarray:
    secs = rng.integers(0, 86_400, len(days)).astype("timedelta64[s]")
    return days.astype("datetime64[s]") + secs


def _pick(rng: np.random.Generator, values: list, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n).tolist()]


def _attrs(rng: np.random.Generator, n: int, tag: str, values: list) -> pa.Array:
    """One ``{tag, value}`` attribute per row, as a list<struct> column."""
    struct = pa.StructArray.from_arrays(
        [pa.array([tag] * n, pa.string()), pa.array(_pick(rng, values, n), pa.string())],
        names=["tag", "value"])
    return pa.ListArray.from_arrays(pa.array(np.arange(n + 1, dtype=np.int32)), struct)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


def _write_ndjson_gz(rows: list[dict], path: str) -> None:
    with gzip.open(path, "wt", compresslevel=1) as fh:
        for r in rows:
            fh.write(json.dumps(r, separators=(",", ":")) + "\n")


def accession_rows(
    accs: list[str], typ: str, updated: np.ndarray, rng: np.random.Generator,
    biosample: list | None = None, bioproject: list | None = None,
) -> dict:
    n = len(accs)
    return {
        "Accession": accs,
        "Submission": [f"SRA{i % 100000:06d}" for i in range(n)],
        "Status": ["live"] * n,
        "Updated": updated.astype("datetime64[us]"),
        "Published": updated.astype("datetime64[us]"),
        "Received": (updated - np.timedelta64(30, "D")).astype("datetime64[us]"),
        "Type": [typ] * n,
        "Center": _pick(rng, ["GEO", "BGI", "SC", "UCSC"], n),
        "Visibility": ["public"] * n,
        "Loaded": np.ones(n, dtype=np.int64),
        "Spots": rng.integers(1_000, 10_000_000, n),
        "Bases": rng.integers(100_000, 1_000_000_000, n),
        "BioSample": biosample if biosample is not None else [None] * n,
        "BioProject": bioproject if bioproject is not None else [None] * n,
    }


ACCESSION_SCHEMA = pa.schema([
    ("Accession", pa.string()), ("Submission", pa.string()), ("Status", pa.string()),
    ("Updated", pa.timestamp("us")), ("Published", pa.timestamp("us")),
    ("Received", pa.timestamp("us")), ("Type", pa.string()), ("Center", pa.string()),
    ("Visibility", pa.string()), ("Loaded", pa.int64()), ("Spots", pa.int64()),
    ("Bases", pa.int64()), ("BioSample", pa.string()), ("BioProject", pa.string()),
])


def genomics_root(root: str, seed: int) -> dict:
    """Write the raw data root under ``root``; return a manifest of what
    was planted (counts per source, for logging)."""
    rng = np.random.default_rng([seed, 1])
    for sub in ("sra", "geo", "biosample", "ebi_biosample"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    acc_dir = os.path.join(root, "sra", "sra_accessions.parquet")
    os.makedirs(acc_dir, exist_ok=True)

    # --- SRA studies / samples / experiments / runs ----------------------
    n_st, n_x, n_r = STUDIES, EXPERIMENTS, EXPERIMENTS
    st_accs = [study_acc(i) for i in range(n_st)]
    bioprojects = [f"PRJNA{100000 + i}" for i in range(n_st)]
    studies = pa.table({
        "accession": st_accs,
        "study_accession": st_accs,
        "title": [f"study {i} of {s}" for i, s in enumerate(_pick(rng, STRATEGIES, n_st))],
        "study_type": _pick(rng, STUDY_TYPES, n_st),
        "center_name": _pick(rng, ["GEO", "BGI", "SC"], n_st),
        "BioProject": bioprojects,
        "attributes": _attrs(rng, n_st, "funding", ["NIH", "ERC", "NSF"]),
    })
    _write(studies, os.path.join(root, "sra", "benchFull-study-1.parquet"))

    org_idx = rng.integers(0, len(ORGANISMS), n_x)
    sm_accs = [sample_acc(i) for i in range(n_x)]
    biosamples = [f"SAMN{10_000_000 + i}" for i in range(n_x)]
    samples = pa.table({
        "accession": sm_accs,
        "title": [f"sample {i}" for i in range(n_x)],
        "organism": [ORGANISMS[k][0] for k in org_idx],
        "taxon_id": pa.array([ORGANISMS[k][1] for k in org_idx], pa.int32()),
        "BioSample": biosamples,
        "attributes": _attrs(rng, n_x, "tissue", ["liver", "brain", "gut", "blood"]),
    })
    _write(samples, os.path.join(root, "sra", "benchFull-sample-1.parquet"))

    x_accs = [exp_acc(i) for i in range(n_x)]
    x_study = rng.integers(0, n_st, n_x)
    experiments = pa.table({
        "accession": x_accs,
        "experiment_accession": x_accs,
        "title": [f"experiment {i}" for i in range(n_x)],
        "study_accession": [st_accs[k] for k in x_study],
        "sample_accession": sm_accs,
        "platform": _pick(rng, PLATFORMS, n_x),
        "instrument_model": _pick(rng, INSTRUMENTS, n_x),
        "library_strategy": _pick(rng, STRATEGIES, n_x),
        "library_source": _pick(rng, SOURCES, n_x),
        "library_selection": _pick(rng, SELECTIONS, n_x),
        "library_layout": _pick(rng, ["SINGLE", "PAIRED"], n_x),
        "spot_length": rng.integers(50, 300, n_x),
        "nreads": rng.integers(1, 3, n_x),
        "attributes": _attrs(rng, n_x, "assay", ["bulk", "single-cell"]),
    })
    _write(experiments, os.path.join(root, "sra", "benchFull-experiment-1.parquet"))

    r_exp = rng.integers(0, n_x, n_r)
    runs = pa.table({
        "accession": [f"SRR{i:07d}" for i in range(n_r)],
        "experiment_accession": [x_accs[k] for k in r_exp],
        "title": [f"run {i}" for i in range(n_r)],
        "total_spots": rng.integers(1_000, 10_000_000, n_r),
        "total_bases": rng.integers(100_000, 1_000_000_000, n_r),
        "size": rng.integers(10_000, 100_000_000, n_r),
        "avg_length": rng.uniform(50, 300, n_r),
        "attributes": _attrs(rng, n_r, "run_type", ["raw", "aligned"]),
    })
    _write(runs, os.path.join(root, "sra", "benchFull-run-1.parquet"))

    def ts(n):
        return _timestamps(rng, _dates(rng, n, DATA_START, DATA_END))

    acc_parts = [
        accession_rows(st_accs, "STUDY", ts(n_st), rng, bioproject=bioprojects),
        accession_rows(x_accs, "EXPERIMENT", ts(n_x), rng,
                       biosample=biosamples, bioproject=[bioprojects[k] for k in x_study]),
        accession_rows(sm_accs, "SAMPLE", ts(n_x), rng, biosample=biosamples),
        accession_rows(runs.column("accession").to_pylist(), "RUN", ts(n_r), rng),
    ]
    acc_table = pa.concat_tables(pa.table(p, ACCESSION_SCHEMA) for p in acc_parts)
    _write(acc_table, os.path.join(acc_dir, "base.parquet"))

    # --- GEO gsm / gse / gpl NDJSON.gz ------------------------------------
    n_gsm, per = GEO_SAMPLES, GEO_SERIES_EVERY
    n_gse, n_gpl = -(-n_gsm // per), GEO_PLATFORMS
    gsm_gpl = rng.integers(0, n_gpl, n_gsm)

    countries, tissues = ["USA", "UK", "Japan", "Germany"], ["liver", "brain", "gut", "blood"]

    def draws(n):
        """Per-row draws: contact country, supplementary-file roll, suffix."""
        return (rng.integers(0, len(countries), n).tolist(), rng.random(n).tolist(),
                rng.integers(0, len(SUPPL_SUFFIXES), n).tolist())

    def contact(i, country):
        return {"name": {"first": f"F{i % 97}", "last": f"L{i % 89}"},
                "country": countries[country],
                "email": f"c{i}@lab.org", "institute": f"Institute {i % 31}"}

    def supp(acc: str, kind: str, roll: float, sfx: int) -> list:
        if roll < 0.15:
            return []
        if roll < 0.25:
            return ["NONE"]
        return [f"ftp://ftp.ncbi.nlm.nih.gov/geo/{kind}/{acc[:-3]}nnn/{acc}/suppl/{acc}{SUPPL_SUFFIXES[sfx]}"]

    gsm_dates = _dates(rng, n_gsm, DATA_START, DATA_END).astype(str).tolist()
    country, roll, sfx = draws(n_gsm)
    n_ch = (1 + (rng.random(n_gsm) < 0.3)).tolist()
    row_counts = rng.integers(0, 50_000, n_gsm).tolist()
    source = rng.integers(0, len(tissues), (n_gsm, 2)).tolist()
    gsm_rows = []
    for i in range(n_gsm):
        acc, (org, tax) = gsm_acc(i), ORGANISMS[int(org_idx[i % n_x])]
        gsm_rows.append({
            "accession": acc, "title": f"gsm {i}", "status": "Public on Jan 01 2024",
            "submission_date": "2023-06-01", "last_update_date": gsm_dates[i],
            "type": "SRA", "platform_id": f"GPL{int(gsm_gpl[i]):05d}",
            "channel_count": n_ch[i], "data_row_count": row_counts[i],
            "description": f"sample {i} description", "data_processing": "aligned",
            "contact": contact(i, country[i]), "supplemental_files": supp(acc, "samples", roll[i], sfx[i]),
            "channels": [{
                "source_name": tissues[source[i][c]],
                "organism": org, "taxid": [tax], "molecule": "total RNA", "label": "none",
                "characteristics": [{"tag": "tissue", "value": "liver"}],
            } for c in range(n_ch[i])],
            "contributor": [], "sra_experiment": exp_acc(i % n_x),
        })
    gse_dates = _dates(rng, n_gse, DATA_START, DATA_END).astype(str).tolist()
    country, roll, sfx = draws(n_gse)
    gse_rows = []
    for j in range(n_gse):
        members = list(range(j * per, min((j + 1) * per, n_gsm)))
        acc = gse_acc(j)
        gse_rows.append({
            "accession": acc, "title": f"series {j}", "status": "Public on Jan 01 2024",
            "submission_date": "2023-06-01", "last_update_date": gse_dates[j],
            "summary": f"series {j} summary", "overall_design": "case vs control",
            "sample_id": [gsm_acc(i) for i in members],
            "platform_id": sorted({f"GPL{int(gsm_gpl[i]):05d}" for i in members}),
            "pubmed_id": [int(30_000_000 + j)], "type": ["Expression profiling by high throughput sequencing"],
            "contact": contact(j, country[j]), "supplemental_files": supp(acc, "series", roll[j], sfx[j]),
            "contributor": [],
        })
    gpl_series: dict[int, set] = {}
    for j in range(n_gse):
        for i in range(j * per, min((j + 1) * per, n_gsm)):
            gpl_series.setdefault(int(gsm_gpl[i]), set()).add(gse_acc(j))
    gpl_dates = _dates(rng, n_gpl, DATA_START, DATA_END)
    gpl_rows = [{
        "accession": f"GPL{p:05d}", "title": f"platform {p}", "status": "Public",
        "submission_date": "2020-01-01", "last_update_date": str(gpl_dates[p]),
        "organism": ORGANISMS[p % len(ORGANISMS)][0], "technology": "high-throughput sequencing",
        "series_id": sorted(gpl_series.get(p, ())), "contact": contact(p, p % len(countries)),
        "manufacturer": [],
    } for p in range(n_gpl)]
    for name, rows in (("gsm", gsm_rows), ("gse", gse_rows), ("gpl", gpl_rows)):
        _write_ndjson_gz(rows, os.path.join(root, "geo", f"{name}-bench.ndjson.gz"))

    # --- NCBI biosample / bioproject, EBI biosample -------------------------
    n_b = NCBI_BIOSAMPLES
    b_ts = ts(n_b)
    ncbi = pa.table({
        "accession": [f"SAMN{20_000_000 + i}" for i in range(n_b)],
        "title": [f"biosample {i}" for i in range(n_b)],
        "last_update": [str(t) + ".500" for t in b_ts],
        "submission_date": [str(t) + ".000" for t in b_ts - np.timedelta64(90, "D")],
        "publication_date": [str(t) + ".000" for t in b_ts],
        "taxonomy_name": [ORGANISMS[k][0] for k in org_idx[:n_b] % len(ORGANISMS)],
        "taxon_id": pa.array([ORGANISMS[k][1] for k in org_idx[:n_b] % len(ORGANISMS)], pa.int64()),
        "is_reference": pa.array([None] * n_b, pa.string()),
        "access": ["public"] * n_b,
        "id": [str(i) for i in range(n_b)],
        "attributes": [["tissue:liver", "sex:female"]] * n_b,
    })
    _write(ncbi, os.path.join(root, "biosample", "biosample-bench.parquet"))

    n_p = BIOPROJECTS
    p_ts = ts(n_p)
    bioproject = pa.table({
        "accession": [f"PRJNA{500000 + i}" for i in range(n_p)],
        "title": [f"project {i}" for i in range(n_p)],
        "name": [f"p{i}" for i in range(n_p)],
        "description": [f"project {i} description" for i in range(n_p)],
        "release_date": [str(t.astype("datetime64[D]")) + "T00:00:00Z" for t in p_ts],
        "data_types": [["raw sequence reads"]] * n_p,
    })
    _write(bioproject, os.path.join(root, "biosample", "bioproject-bench.parquet"))

    n_e = EBI_BIOSAMPLES
    e_ts = ts(n_e)
    char_t = pa.list_(pa.struct([
        ("text", pa.string()), ("ontologyTerms", pa.list_(pa.string())),
        ("unit", pa.string()), ("characteristic", pa.string()),
    ]))
    ebi = pa.table({
        "accession": [f"SAMEA{7_000_000 + i}" for i in range(n_e)],
        "name": [f"ebi sample {i}" for i in range(n_e)],
        "update": [str(t) + ".866Z" for t in e_ts],
        "release": [str(t) + ".000Z" for t in e_ts],
        "create": [str(t) + ".000Z" for t in e_ts - np.timedelta64(10, "D")],
        "taxId": pa.array([ORGANISMS[k % len(ORGANISMS)][1] for k in range(n_e)], pa.int64()),
        "characteristics": pa.array([[{
            "text": "liver", "ontologyTerms": ["UBERON_0002107"], "unit": None,
            "characteristic": "organism part"}]] * n_e, char_t),
    })
    _write(ebi, os.path.join(root, "ebi_biosample", "biosamples-bench.parquet"))

    return {
        "studies": n_st, "experiments": n_x, "samples": n_x, "runs": n_r,
        "accessions": acc_table.num_rows, "gsm": n_gsm, "gse": n_gse, "gpl": n_gpl,
        "ncbi_biosample": n_b, "bioproject": n_p, "ebi_biosample": n_e,
    }


def day_delta(out_dir: str, seed: int, day: dt.date) -> int:
    """Drop one day's new SRA experiments into ``out_dir``: an
    ``EXPERIMENT_SET`` XML file under ``xml/`` (input of the extract step)
    and the matching EXPERIMENT accession rows as ``accessions.parquet``.
    New experiments reference existing studies and samples. Returns the
    number of experiments planted."""
    rng = np.random.default_rng([seed, 2, day.toordinal()])
    n, first = DAY_EXPERIMENTS, EXPERIMENTS
    os.makedirs(os.path.join(out_dir, "xml"), exist_ok=True)
    accs = [exp_acc(first + i) for i in range(n)]
    studies = rng.integers(0, STUDIES, n)
    samples = rng.integers(0, EXPERIMENTS, n)
    platforms = _pick(rng, PLATFORMS, n)
    parts = ["<?xml version='1.0' encoding='UTF-8'?>\n<EXPERIMENT_SET>\n"]
    for i, acc in enumerate(accs):
        parts.append(
            f'<EXPERIMENT accession="{acc}" center_name="GEO">'
            f"<TITLE>daily experiment {first + i}</TITLE>"
            f'<STUDY_REF accession="{study_acc(int(studies[i]))}"/>'
            f'<DESIGN><SAMPLE_DESCRIPTOR accession="{sample_acc(int(samples[i]))}"/></DESIGN>'
            f"<PLATFORM><{platforms[i]}><INSTRUMENT_MODEL>x</INSTRUMENT_MODEL></{platforms[i]}></PLATFORM>"
            "<EXPERIMENT_ATTRIBUTES><EXPERIMENT_ATTRIBUTE><TAG>assay</TAG>"
            "<VALUE>bulk</VALUE></EXPERIMENT_ATTRIBUTE></EXPERIMENT_ATTRIBUTES>"
            "</EXPERIMENT>\n"
        )
    parts.append("</EXPERIMENT_SET>\n")
    xml_path = os.path.join(out_dir, "xml", f"experiments-{day.isoformat()}.xml.gz")
    with gzip.open(xml_path, "wt", compresslevel=1) as fh:
        fh.write("".join(parts))
    updated = _timestamps(rng, np.full(n, np.datetime64(day.isoformat(), "D")))
    rows = accession_rows(accs, "EXPERIMENT", updated, rng,
                          biosample=[f"SAMN{10_000_000 + int(s)}" for s in samples])
    pq.write_table(pa.table(rows, ACCESSION_SCHEMA), os.path.join(out_dir, "accessions.parquet"),
                   compression="zstd")
    return n


def corpus(path: str, seed: int) -> dict:
    """Write the curation corpus as one parquet file with columns
    ``doc_id, text, origin, kind`` (``origin`` = the base document a copy
    was made from, ``kind`` ∈ base/exact/near). Only ``doc_id``/``text``
    reach the program; ``origin`` is ground truth for LSH precision."""
    rng = np.random.default_rng([seed, 3])
    n_base = BASE_DOCS
    n_short = round(n_base * SHORT_SHARE)
    n_rep = round(n_base * REPETITIVE_SHARE)
    # Counts and duplicate-cluster shapes are fixed and only the words
    # change with the seed: every duplicate cluster is one base document
    # plus one copy, so the near-dup graph (and the number of connected-
    # component rounds) is the same size for every seed.
    pairs = [(a, b) for i, a in enumerate(VOCAB) for b in VOCAB[i + 1:]]
    texts = [" ".join(_pick(rng, VOCAB, int(rng.integers(3, 9)))) for _ in range(n_short)]
    for k in rng.choice(len(pairs), n_rep, replace=False):
        texts.append(" ".join(pairs[k] * int(rng.integers(15, 40))))
    texts += [" ".join(_pick(rng, VOCAB, int(rng.integers(40, 101))))
              for _ in range(n_base - n_short - n_rep)]
    total = int(round(n_base / (1 - EXACT_DUP_SHARE - NEAR_DUP_SHARE)))
    n_exact = int(round(total * EXACT_DUP_SHARE))
    n_near = total - n_base - n_exact
    origin = list(range(n_base))
    kind = ["base"] * n_base
    sources = rng.choice(np.arange(n_short + n_rep, n_base), n_exact + n_near, replace=False)
    for i in sources[:n_exact]:
        texts.append(texts[int(i)])
        origin.append(int(i))
        kind.append("exact")
    for i in sources[n_exact:]:
        words = texts[int(i)].split(" ")
        drop = int(rng.integers(0, len(words)))
        texts.append(" ".join(words[:drop] + words[drop + 1:]))
        origin.append(int(i))
        kind.append("near")
    perm = rng.permutation(len(texts))
    # doc ids are a seeded permutation, so keeper (= min id) choices
    # differ between seeds
    table = pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": [texts[k] for k in perm],
        "origin": pa.array(np.asarray(origin)[perm], pa.int64()),
        "kind": [kind[k] for k in perm],
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")
    return {"docs": table.num_rows, "base": n_base, "exact_dups": n_exact, "near_dups": n_near,
            "exact_dup_share": EXACT_DUP_SHARE, "near_dup_share": round(n_near / table.num_rows, 4)}


def main(out: str, seed: int) -> None:
    manifest = {
        "genomics": genomics_root(os.path.join(out, "genomics"), seed),
        "day": day_delta(os.path.join(out, "day"), seed, DAY),
        "corpus": corpus(os.path.join(out, "corpus.parquet"), seed),
    }
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
