"""Seeded benchmark inputs, written as parquet before Spark starts.

Pages come from `ispaq_spark.synthesize`: `gen_pages_local(n, seed)` is the
driver-local twin of `pages_df(spark, n, seed)` (both call
`make_page(i, seed)` for i in range(n); a test checks they agree). Generating
them without Spark keeps fixture generation out of the set-up time and lets
the first set-up start from a cold JVM.

Pages are stored one parquet file per day under `input/`, so that a day can
be switched between two fixed versions: version A comes from `seed`,
version B from `seed + VERSION_B_OFFSET`. The moment-query tables mirror the
schema and value domains of the sf0.1 test tables `lineitem` and `events`,
and are drawn from `numpy.random.default_rng(seed)`.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ispaq_spark.synthesize import gen_pages_local

VERSION_B_OFFSET = 1_000_000

# Mirrors ispaq_spark.schemas.PAGES; Spark reads timestamp[us, UTC] back as
# TimestampType.
PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def day_of(row: dict) -> str:
    return row["warc_ts"].strftime("%Y-%m-%d")


def write_pages(rows: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGES_SCHEMA), path)


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class DayPages:
    """`n` pages per version, one parquet file per day in `input_dir`; each
    day can be flipped between version A and version B."""

    def __init__(self, root: str, n: int, seed: int, versions: str = "AB"):
        self.input_dir = os.path.join(root, "input")
        self._store = os.path.join(root, "store")
        os.makedirs(self.input_dir)
        os.makedirs(self._store)
        self.rows: dict[tuple[str, str], list[dict]] = {}
        for v in versions:
            vseed = seed if v == "A" else seed + VERSION_B_OFFSET
            for row in gen_pages_local(n, vseed):
                self.rows.setdefault((v, day_of(row)), []).append(row)
        self.days = sorted({d for _v, d in self.rows})
        for (v, d), rows in self.rows.items():
            write_pages(rows, self._stored(v, d))
        self.current = {}
        for d in self.days:
            self._install(d, "A")

    def _stored(self, version: str, day: str) -> str:
        return os.path.join(self._store, f"{version}-{day}.parquet")

    def input_file(self, day: str) -> str:
        return os.path.join(self.input_dir, f"{day}.parquet")

    def _install(self, day: str, version: str) -> None:
        # Spark skips files whose names start with '.', so a reader never
        # sees the half-copied file.
        tmp = os.path.join(self.input_dir, f".{day}.tmp")
        shutil.copyfile(self._stored(version, day), tmp)
        os.replace(tmp, self.input_file(day))
        self.current[day] = version

    def flip(self, day: str) -> str:
        """Switch `day` to its other version; returns the new version."""
        version = "B" if self.current[day] == "A" else "A"
        self._install(day, version)
        return version

    def current_rows(self, day: str) -> list[dict]:
        return self.rows[(self.current[day], day)]

    def count(self) -> int:
        return sum(len(self.current_rows(d)) for d in self.days)


LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
EVENT_DAYS = 30
# sf0.1 has 1,500 users over 100,000 events; keeping the ratio keeps the
# per-user density that sizes snr_window's +/-3-day self-join.
EVENTS_PER_USER = 100_000 / 1_500


def write_moment_tables(sf_dir: str, n_lineitem: int, n_events: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir)
    n = n_lineitem
    epoch = np.datetime64("1995-01-01T00:00:00", "us")
    lineitem = pa.Table.from_pydict(
        {
            "l_orderkey": rng.integers(0, max(n // 4, 1), n),
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n),
            "l_shipdate": epoch
            + rng.integers(0, 2_500, n).astype("timedelta64[D]").astype("timedelta64[us]"),
        },
        schema=LINEITEM_SCHEMA,
    )
    pq.write_table(lineitem, os.path.join(sf_dir, "lineitem.parquet"))

    m = n_events
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, m))
    events = pa.Table.from_pydict(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, max(int(m / EVENTS_PER_USER), 1), m),
            "event_type": rng.choice(EVENT_TYPES, m),
            "value": np.round(rng.exponential(50.0, m), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, m)],
        },
        schema=EVENTS_SCHEMA,
    )
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))
