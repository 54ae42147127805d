"""Pure-Python reference model of the replication engine's output, and the
readers that compare it with what the engine wrote.

The model replays the generated records batch by batch with the engine's
documented semantics and none of its code:

* a batch's heartbeats raise each (table, partition) high; an event older
  than its partition's high from *before* the batch is out of order and
  goes to the dead-letter queue (problem strategy ``continue``);
* events strictly below the previous checkpoint are dropped as replays;
* the quorum is the minimum high over every expected partition, and only
  once all have reported; events strictly below it apply, the rest stay
  pending for the next batch;
* per key, the batch's last operation wins; an erase deletes the row, an
  update writes the union of the column sets of the updates after the
  key's last erase in the batch, later values winning, onto the existing
  row (absent columns keep their value, a new row starts all-null).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.dataset as ds


@dataclass
class ModelState:
    n_tables: int
    expected_partitions: int
    hb: dict = field(default_factory=dict)
    pending: list = field(default_factory=list)
    checkpoint: tuple = (0, 0)
    tables: list = field(default_factory=list)
    dlq_rows: int = 0
    quorums: list = field(default_factory=list)  # checkpoint after each batch
    applied_per_batch: list = field(default_factory=list)

    def __post_init__(self):
        self.tables = [{} for _ in range(self.n_tables)]

    def batch(self, records: list) -> None:
        hb_before = dict(self.hb)
        events = []
        for r in records:
            t, p, _off, kind, _key, _cols, step, tx = r
            pos = (step, tx)
            if kind == "h":
                if pos > self.hb.get((t, p), (-1, -1)):
                    self.hb[(t, p)] = pos
                continue
            high = hb_before.get((t, p))
            if high is not None and pos < high:
                self.dlq_rows += 1
                continue
            if pos >= self.checkpoint:
                events.append(r)
        events = self.pending + events
        q = min(self.hb.values()) if len(self.hb) >= self.expected_partitions else None
        if q is None or q <= self.checkpoint:
            self.pending = events
            self.quorums.append(self.checkpoint)
            self.applied_per_batch.append(0)
            return
        apply = [e for e in events if (e[6], e[7]) < q]
        self.pending = [e for e in events if (e[6], e[7]) >= q]
        self.applied_per_batch.append(len(apply))
        by_key: dict = {}
        for e in sorted(apply, key=lambda e: (e[6], e[7], e[2])):
            by_key.setdefault((e[0], e[4]), []).append(e)
        for (t, key), evs in by_key.items():
            table = self.tables[t]
            if evs[-1][3] == "e":
                table.pop(key, None)
                continue
            last_erase = max((i for i, e in enumerate(evs) if e[3] == "e"), default=-1)
            merged: dict = {}
            for e in evs[last_erase + 1 :]:
                merged.update(e[5])
            row = table.get(key)
            if row is None:
                table[key] = merged
            else:
                row.update(merged)
        self.checkpoint = q
        self.quorums.append(q)


def _column_values(col: pa.ChunkedArray, ydb_type: str) -> list:
    """Arrow column -> the generator's typed-value representation."""
    t = col.type
    if pa.types.is_timestamp(t):
        col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_date(t):
        col = col.cast(pa.int32())
    vals = col.to_pylist()
    if pa.types.is_decimal(t):
        vals = [None if v is None else int(v) for v in vals]
    return vals


def read_destination(path: str, table) -> dict:
    """{key tuple: {value column: value}} of a destination table's
    current version, read from its parquet files without Spark."""
    with open(os.path.join(path, "CURRENT")) as f:
        version = f.read().strip()
    cols = list(table.columns)
    data = ds.dataset(
        os.path.join(path, f"v{version}"), format="parquet", partitioning="hive"
    ).to_table(columns=cols)
    values = {c: _column_values(data.column(c), table.columns[c]) for c in cols}
    n_pk = len(table.pk)
    out: dict = {}
    for i in range(data.num_rows):
        key = tuple(values[c][i] for c in cols[:n_pk])
        if key in out:
            raise AssertionError(f"{table.name}: duplicate key {key!r}")
        out[key] = {c: values[c][i] for c in cols[n_pk:]}
    return out


def count_parquet_rows(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet").count_rows()


def read_state(state_dir: str) -> dict:
    with open(os.path.join(state_dir, "CURRENT")) as f:
        version = f.read().strip()
    with open(os.path.join(state_dir, f"v{version}.json")) as f:
        return json.load(f)


def compare_tables(model: ModelState, tables, dst_paths: list[str]) -> list[str]:
    """Mismatch descriptions (empty when every table matches)."""
    errors = []
    for t, (table, path) in enumerate(zip(tables, dst_paths)):
        want = model.tables[t]
        if not os.path.exists(os.path.join(path, "CURRENT")):
            if want:
                errors.append(f"{table.name}: no committed version, {len(want)} rows expected")
            continue
        got = read_destination(path, table)
        if len(got) != len(want):
            errors.append(f"{table.name}: {len(got)} rows, model has {len(want)}")
        vcols = table.value_columns
        bad = 0
        for key, row in want.items():
            exp = {c: row.get(c) for c in vcols}
            if got.get(key) != exp:
                if bad < 3:
                    errors.append(f"{table.name} key {key!r}: got {got.get(key)!r}, want {exp!r}")
                bad += 1
        if bad:
            errors.append(f"{table.name}: {bad} mismatched rows")
    return errors
