"""Deterministic benchmark inputs, all derived from ``--seed``.

Two generators:

- ``write_query_tables``: a seeded ~95% subsample of the sf0.01 fixture
  tables shipped in ``data/sf0.01`` (orders and their lineitems, customers,
  events, documents and embeddings are sampled; the small dimension tables
  are kept whole).  The query mix reads these and DuckDB computes the
  expected answers from the same files.
- ``plan_ingest_files``: CSV event files for the landing directory, with a
  known final keyed-store state.  Files carry rows that fail validation
  (empty key), RFC-4180 quoted fields containing commas, and updates of
  earlier keys.  An update is placed at least ``spacing`` files after the
  key's previous row: with ``maxFilesPerTrigger <= spacing`` the two rows
  land in different micro-batches, so new-over-old decides the winner (two
  rows of one key in one batch would tie in the store's merge).
"""

from __future__ import annotations

import csv
import io
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
KEEP_FRAC = 0.95

#: CSV header -> store column (the rename step of the ingest flow).
RENAMES = {
    "EventId": "event_id",
    "UserId": "user_id",
    "EventType": "event_type",
    "Ts": "ts",
    "Value": "value",
    "Note": "note",
}
CSV_SCHEMA = (
    "EventId BIGINT, UserId BIGINT, EventType STRING, Ts TIMESTAMP, "
    "Value DOUBLE, Note STRING"
)
KEY = "event_id"
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = ("alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "zulu")
TS_BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def write_query_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the seeded subsample of every fixture table; return row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    tables = {t: pq.read_table(os.path.join(BASE_TABLES, f"{t}.parquet")) for t in TABLE_NAMES}

    def sample(t: pa.Table) -> pa.Table:
        return t.filter(pa.array(rng.random(t.num_rows) < KEEP_FRAC))

    for name in ("customer", "orders", "events", "documents", "embeddings"):
        tables[name] = sample(tables[name])
    tables["lineitem"] = tables["lineitem"].filter(
        pc.is_in(tables["lineitem"]["l_orderkey"], value_set=tables["orders"]["o_orderkey"])
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


@dataclass
class IngestFile:
    """One CSV file: its text and its row accounting."""

    name: str
    text: str
    rows: int  # data rows, header excluded
    invalid: int  # rows with an empty key


@dataclass
class IngestPlan:
    files: list[IngestFile]
    #: key -> (user_id, event_type, ts epoch ms, value, note) after all files
    expected: dict[int, tuple] = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(f.rows for f in self.files)

    @property
    def csv_bytes(self) -> int:
        return sum(len(f.text.encode()) for f in self.files)


def plan_ingest_files(
    seed: int,
    n_files: int,
    rows_per_file: int,
    spacing: int,
    first_key: int = 0,
    update_frac: float = 0.1,
    invalid_frac: float = 0.02,
    prior: IngestPlan | None = None,
    prefix: str = "part",
) -> IngestPlan:
    """Generate ``n_files`` CSV files of ``rows_per_file`` rows each.

    Keys are fresh from ``first_key`` upward, except that ``update_frac`` of
    the rows re-write a key whose last row is at least ``spacing`` files
    earlier (or any key of ``prior``, whose files are assumed committed).
    """
    rng = np.random.default_rng([seed, 2, first_key])
    expected: dict[int, tuple] = dict(prior.expected) if prior else {}
    # key -> index of the file holding its latest row (prior keys: -inf)
    last_file: dict[int, int] = {k: -(10**9) for k in expected}
    next_key = first_key
    files = []
    for fi in range(n_files):
        eligible = [k for k, f in last_file.items() if f <= fi - spacing]
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(list(RENAMES))
        used: set[int] = set()
        invalid = 0
        for _ in range(rows_per_file):
            ts_ms = TS_BASE_MS + int(rng.integers(0, 30 * 86_400_000))
            ts = np.datetime64(ts_ms, "ms").astype(str)
            user = int(rng.integers(1, 5000))
            etype = EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))]
            value = f"{rng.integers(1, 50_000) / 100:.2f}"
            words = rng.choice(WORDS, size=int(rng.integers(1, 4)))
            # multi-word notes contain commas, so the writer quotes them
            note = ", ".join(str(x) for x in words)
            roll = rng.random()
            if roll < invalid_frac:
                w.writerow(["", user, etype, ts, value, note])
                invalid += 1
                continue
            key = None
            if roll < invalid_frac + update_frac and eligible:
                cand = eligible[int(rng.integers(len(eligible)))]
                if cand not in used:
                    key = cand
            if key is None:
                key = next_key
                next_key += 1
            used.add(key)
            last_file[key] = fi
            expected[key] = (user, etype, ts_ms, float(value), note)
            w.writerow([key, user, etype, ts, value, note])
        files.append(
            IngestFile(f"{prefix}-{fi:05d}.csv", buf.getvalue(), rows_per_file, invalid)
        )
    return IngestPlan(files, expected)
