"""Output checks. Each returns a list of problems; an empty list passes.

They take plain rows (dicts or pandas frames), so they are tested without
Spark; the callers in `workloads` fetch those rows from the sink.
"""

from __future__ import annotations

import pandas as pd

from scripts.check_oracle import normalize


def keep_f1(pairs: list[tuple[bool, bool]]) -> float:
    """F1 of the sink's keep decisions (second) against the reference's
    (first), keep being the positive class. 1.0 when both keep nothing."""
    tp = sum(1 for ref, got in pairs if ref and got)
    fp = sum(1 for ref, got in pairs if got and not ref)
    fn = sum(1 for ref, got in pairs if ref and not got)
    return 1.0 if tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)


def check_sample(
    sink_rows: dict[tuple[str, str], dict],
    expected: dict[tuple[str, str], tuple],
) -> tuple[list[str], float]:
    """Compare sink rows keyed (url, ds) with `reference_impl.label_document`
    results (extracted, scrubbed, keep, quality_flag) for the same keys.
    Extracted and scrubbed text must be byte-identical; returns the
    problems and the keep F1 over the sample."""
    problems, pairs = [], []
    for key, (text, scrubbed, keep, qf) in expected.items():
        row = sink_rows.get(key)
        if row is None:
            problems.append(f"{key}: missing from the sink")
            continue
        if row["extracted_text"] != text:
            problems.append(f"{key}: extracted_text differs from the reference")
        if row["scrubbed_text"] != scrubbed:
            problems.append(f"{key}: scrubbed_text differs from the reference")
        if row["quality_flag"] != qf:
            problems.append(f"{key}: quality_flag {row['quality_flag']} != {qf}")
        pairs.append((keep, bool(row["keep"])))
    f1 = keep_f1(pairs)
    if f1 != 1.0:
        problems.append(f"keep F1 {f1:.6f} != 1.0")
    return problems, f1


def check_lineage(rollup: list[dict], docs_per_day: dict[str, int]) -> list[str]:
    """`pipeline.rollup_lineage` rows must reconcile per partition
    (in = kept + dropped + quarantined) and count exactly the input pages
    of each day."""
    problems = []
    got = {r["partition_id"]: r for r in rollup}
    if set(got) != set(docs_per_day):
        problems.append(f"partitions {sorted(got)} != {sorted(docs_per_day)}")
    for ds, r in sorted(got.items()):
        parts = r["docs_kept"] + r["docs_dropped"] + r["docs_error"]
        if r["docs_in"] != parts:
            problems.append(f"{ds}: docs_in {r['docs_in']} != kept+dropped+quarantined {parts}")
        if ds in docs_per_day and r["docs_in"] != docs_per_day[ds]:
            problems.append(f"{ds}: docs_in {r['docs_in']} != input pages {docs_per_day[ds]}")
    return problems


def check_days(report: dict, computed: list[str], skipped: list[str]) -> list[str]:
    """`run_resumable`'s report must name exactly the expected days."""
    want = {"computed": sorted(computed), "skipped": sorted(skipped)}
    got = {k: sorted(report.get(k, ())) for k in want}
    return [] if got == want else [f"days {got} != expected {want}"]


def check_frame(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """The comparison of scripts/check_oracle.py: same columns, same row
    count, equal values after its normalisation (floats to 9 decimals)."""
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return [f"{name}: columns {list(a.columns)} != {list(b.columns)}"]
    if len(a) != len(b):
        return [f"{name}: rows {len(a)} != {len(b)}"]
    try:
        pd.testing.assert_frame_equal(
            a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
        )
    except AssertionError as ex:
        return [f"{name}: values differ from the DuckDB oracle: {str(ex)[:300]}"]
    return []
