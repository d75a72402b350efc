from __future__ import annotations

import json
from pathlib import Path

import pandas as pd
import pytest

from perfbench import checks, run

ROOT = Path(__file__).resolve().parents[2]

EXPECTED = {
    ("u1", "2024-03-01"): ("one text", "one text", True, 0),
    ("u2", "2024-03-01"): ("two text", "two [EMAIL]", False, 0),
    ("u3", "2024-03-01"): (None, None, False, -9),
}


def sink_rows():
    return {
        k: {"extracted_text": t, "scrubbed_text": s, "keep": keep, "quality_flag": qf}
        for k, (t, s, keep, qf) in EXPECTED.items()
    }


def test_sample_check_passes_on_identical_rows():
    problems, f1 = checks.check_sample(sink_rows(), EXPECTED)
    assert problems == [] and f1 == 1.0


@pytest.mark.parametrize(
    "field, value",
    [("extracted_text", "one text "), ("scrubbed_text", "two text"), ("keep", False), ("quality_flag", -9)],
)
def test_sample_check_rejects_a_corrupted_row(field, value):
    rows = sink_rows()
    key = ("u2", "2024-03-01") if field == "scrubbed_text" else ("u1", "2024-03-01")
    rows[key][field] = value
    problems, _ = checks.check_sample(rows, EXPECTED)
    assert problems


def test_sample_check_rejects_a_missing_row():
    rows = sink_rows()
    del rows[("u3", "2024-03-01")]
    problems, _ = checks.check_sample(rows, EXPECTED)
    assert any("missing" in p for p in problems)


def test_keep_f1():
    assert checks.keep_f1([(True, True), (False, False)]) == 1.0
    assert checks.keep_f1([(False, False)]) == 1.0
    assert checks.keep_f1([(True, True), (True, False), (False, True)]) == 0.5


def lineage_row(ds, n, kept, dropped, err):
    return {"partition_id": ds, "docs_in": n, "docs_kept": kept, "docs_dropped": dropped, "docs_error": err}


def test_lineage_reconciles():
    rollup = [lineage_row("d1", 10, 5, 4, 1), lineage_row("d2", 3, 3, 0, 0)]
    assert checks.check_lineage(rollup, {"d1": 10, "d2": 3}) == []


def test_lineage_rejects_unbalanced_counts_missing_days_and_wrong_totals():
    assert checks.check_lineage([lineage_row("d1", 10, 5, 4, 0)], {"d1": 10})
    assert checks.check_lineage([lineage_row("d1", 10, 5, 4, 1)], {"d1": 10, "d2": 3})
    assert checks.check_lineage([lineage_row("d1", 9, 5, 4, 0)], {"d1": 10})


def test_days_check():
    report = {"computed": ["d2"], "skipped": ["d1", "d3"]}
    assert checks.check_days(report, ["d2"], ["d3", "d1"]) == []
    assert checks.check_days(report, [], ["d1", "d2", "d3"])


def test_frame_check_uses_oracle_normalisation():
    a = pd.DataFrame({"k": ["A", "N"], "v": [1.0000000001, 2.0]})
    b = pd.DataFrame({"v": [2.0, 1.0], "k": ["N", "A"]})
    assert checks.check_frame("q", a, b) == []
    assert checks.check_frame("q", a.assign(v=[1.0, 2.5]), b)
    assert checks.check_frame("q", a.iloc[:1], b)
    assert checks.check_frame("q", a.rename(columns={"v": "w"}), b)


def test_benchmark_json_matches_what_the_runs_print():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in doc["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in doc["workloads"]} <= set(run.WORKLOAD_NAMES)
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25
