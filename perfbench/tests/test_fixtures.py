from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

from perfbench.fixtures import DayPages, write_moment_tables

ROOT = Path(__file__).resolve().parents[2]


def test_same_seed_same_pages_other_seed_other_pages(tmp_path):
    a = DayPages(str(tmp_path / "a"), 60, seed=5, versions="A")
    b = DayPages(str(tmp_path / "b"), 60, seed=5, versions="A")
    c = DayPages(str(tmp_path / "c"), 60, seed=6, versions="A")
    assert a.days == b.days
    for d in a.days:
        assert pq.read_table(a.input_file(d)).equals(pq.read_table(b.input_file(d)))
    assert a.rows != c.rows
    assert a.count() == 60


def test_flip_switches_one_day_between_two_fixed_versions(tmp_path):
    p = DayPages(str(tmp_path), 100, seed=5)
    day, other = p.days[0], p.days[1]
    before = pq.read_table(p.input_file(day))
    untouched = pq.read_table(p.input_file(other))
    assert p.flip(day) == "B"
    flipped = pq.read_table(p.input_file(day))
    assert not flipped.equals(before)
    assert flipped.num_rows == len(p.current_rows(day))
    assert pq.read_table(p.input_file(other)).equals(untouched)
    assert p.flip(day) == "A"
    assert pq.read_table(p.input_file(day)).equals(before)
    assert sorted(os.listdir(p.input_dir)) == [f"{d}.parquet" for d in p.days]


def test_moment_tables_are_seeded(tmp_path):
    write_moment_tables(str(tmp_path / "a"), 500, 200, seed=3)
    write_moment_tables(str(tmp_path / "b"), 500, 200, seed=3)
    write_moment_tables(str(tmp_path / "c"), 500, 200, seed=4)
    for t in ("lineitem", "events"):
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))


def test_benchmark_alone_exits_nonzero_without_a_result(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    program is missing: the command must fail and print no result."""
    subprocess.run(
        ["cp", "-r", str(ROOT / "BENCHMARK.json"), str(ROOT / "perfbench"), str(tmp_path)],
        check=True,
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest_fresh", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
