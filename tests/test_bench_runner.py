"""bench.py's row table and runner, checked without running a bench:
the table covers every row of the committed record, optional-section
children never outlive the deadline, and a degenerate corpus skips a
row instead of killing its section."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

# dict-valued keys of a section node that are not rows of that section
_CHILD_KEYS = {"host_signature", "serve_child_host_signature",
               "floor_at_1m_rows", "extract_sra_xml"}


def _rows(section: str) -> set[str]:
    return {r.name for r in bench.ROWS if r.section == section}


def test_bench_rows_cover_committed_detail():
    """Every row key of the committed BENCH_DETAIL.json has a table
    entry in the section that produces it: dropping a row fails here."""
    with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
        detail = json.load(fh)
    scale = detail["scale"]
    floor = scale["floor_at_1m_rows"]
    want = {
        "headline": set(detail["queries"]) - {"mart_export_parquet"},
        "export": {"mart_export_parquet"},
        "scale": {k for k, v in scale.items()
                  if isinstance(v, dict) and k not in _CHILD_KEYS},
        "floor|serve": {k for k, v in floor.items()
                        if isinstance(v, dict) and k not in _CHILD_KEYS},
        "extract": {"extract_sra_xml"},
    }
    assert len(want["headline"]) == 18 and len(want["floor|serve"]) == 6
    have = {
        "headline": _rows("headline"),
        "export": _rows("export"),
        "scale": _rows("scale"),
        "floor|serve": _rows("floor") | _rows("serve"),
        "extract": _rows("extract"),
    }
    for node, names in want.items():
        assert names <= have[node], (node, names - have[node])
    assert bench.SECTIONS == ["headline", "export", "serve", "scale", "floor",
                              "extract"]


def test_optional_section_timeouts_never_exceed_remaining(monkeypatch):
    """Every child launched for an optional section — first attempt and
    crash retry alike — gets a timeout no larger than what remains of
    the deadline at launch; a child that timed out is not relaunched
    once the budget is spent, and the sections it starved are named."""
    clock = {"left": 1000.0}
    calls: list[tuple[float, float]] = []

    def remaining() -> float:
        return clock["left"]

    def timing_out(cmd, timeout, **kw):
        calls.append((timeout, remaining()))
        clock["left"] -= timeout  # the child ran until it was killed
        raise subprocess.TimeoutExpired(cmd, timeout)

    monkeypatch.setattr(subprocess, "run", timing_out)
    outs, skipped = bench._optional_sections("/nonexistent", remaining, "deadline")
    assert calls == [(1000.0, 1000.0)]
    assert "timed out" in outs["serve"]["error"]
    assert skipped == ["scale", "floor", "extract"]
    assert all(outs[s] == {"skipped": "deadline"} for s in skipped)

    # a child that dies early is retried once, on what is left then
    clock["left"] = 1000.0
    calls.clear()

    def crashing(cmd, timeout, **kw):
        calls.append((timeout, remaining()))
        clock["left"] -= 100.0
        raise subprocess.TimeoutExpired(cmd, timeout)

    monkeypatch.setattr(subprocess, "run", crashing)
    outs, skipped = bench._optional_sections("/nonexistent", remaining, "deadline")
    assert calls and all(t <= left for t, left in calls)
    assert [t for t, _ in calls] == [1000.0, 900.0, 800.0, 700.0, 600.0, 500.0,
                                     400.0, 300.0]
    assert skipped == []
    assert all("first_error" in outs[s] for s in bench.SECTIONS[2:])


def test_assemble_names_every_forfeited_row():
    """A forfeited serve section marks each of its rows under
    floor_at_1m_rows; section nodes keep the committed nesting."""
    outs = {
        "serve": {"skipped": "deadline"},
        "scale": {"error": "boom"},
        "floor": {"similarity_topk": {"sec": 1.0}, "host_signature": {}},
        "extract": {"extract_sra_xml": {"sec": 2.0}, "host_signature": {}},
    }
    scale = bench._assemble(outs)
    assert scale["error"] == "boom"
    floor = scale["floor_at_1m_rows"]
    for name in ("retrieval_rrf_hybrid", "bm25_index_serve", "ann_recall_curve"):
        assert floor[name] == {"skipped": "deadline"}
    assert floor["similarity_topk"] == {"sec": 1.0}
    assert scale["extract_sra_xml"] == {"sec": 2.0, "host_signature": {}}


def test_skew_probe_skips_all_empty_corpus(spark, tmp_path):
    """A corpus whose texts are all empty or whitespace has no document
    to plant as the duplicate cluster: the row records why, it does not
    raise (which would cost the rest of its section a retry cycle)."""
    spark.createDataFrame(
        [(1, ""), (2, "   "), (3, " "), (4, "")], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    row = bench._minhash_skew_row(spark, str(tmp_path), None)
    assert set(row) == {"skipped"}
    assert "empty or whitespace" in row["skipped"]

