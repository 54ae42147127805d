"""Seeded CDC changefeed generator for the replication benchmark.

The engine sees only the JSONL files this module writes: one raw message
per line, ``{"table_id", "partition", "offset", "value"}``, where
``value`` is the wire JSON of an update, an erase or a heartbeat
(``resolved``). Every file is a pure function of ``(seed, file index)``,
so the reference model can regenerate a file's records without reading
it back.

Records handed to the model are tuples
``(table_id, partition, offset, kind, key, cols, step, tx)`` with
``kind`` in ``u`` (update), ``e`` (erase), ``h`` (heartbeat), ``key`` a
tuple of typed key values and ``cols`` a dict of typed column values
(``None`` for erases and heartbeats). Typed values are what the
destination must hold: ``int`` for every integer type and for Uint64,
``float``, ``str``, ``bytes`` for base64 ``String``, days since the
epoch for ``Date``, microseconds since the epoch for ``Timestamp``,
``bool``, or ``None``.
"""

from __future__ import annotations

import base64
import bisect
import datetime as _dt
import json
import os
import random
from dataclasses import dataclass

UINT64_MAX = 2**64 - 1
N_PARTITIONS = 8
# per-(table, partition) offsets and per-file tx ids live in disjoint
# ranges per file index, so files are independent of each other
FILE_STRIDE = 10_000_000
ERASE_FRAC = 0.1


@dataclass(frozen=True)
class Table:
    name: str
    pk: tuple[str, ...]
    columns: dict  # column -> YDB type, PK columns first
    n_keys: int
    zipf_s: float = 0.0  # 0 = uniform key choice

    @property
    def value_columns(self) -> list[str]:
        return [c for c in self.columns if c not in self.pk]

    def ddl(self) -> str:
        spark_type = {
            "Int64": "bigint",
            "Uint64": "decimal(20,0)",
            "Double": "double",
            "Utf8": "string",
            "String": "binary",
            "Date": "date",
            "Timestamp": "timestamp",
            "Bool": "boolean",
        }
        return ", ".join(
            f"{c} {spark_type[_inner(t)]}" for c, t in self.columns.items()
        )


def _inner(ydb_type: str) -> str:
    return ydb_type[len("Optional<"):-1] if ydb_type.startswith("Optional<") else ydb_type


PACED_TABLES = (
    Table(
        "users",
        ("id",),
        {"id": "Int64", "name": "Optional<Utf8>", "score": "Int64", "ratio": "Double"},
        n_keys=100_000,
    ),
)

CATCHUP_TABLES = (
    Table(
        "accounts",
        ("id",),
        {
            "id": "Uint64",
            "balance": "Double",
            "seen": "Timestamp",
            "avatar": "String",
            "born": "Date",
            "hits": "Uint64",
            "nick": "Optional<Utf8>",
            "active": "Optional<Bool>",
        },
        n_keys=200_000,
        zipf_s=1.1,
    ),
)

TABLE_SETS = {"paced": PACED_TABLES, "catchup": CATCHUP_TABLES}

_TS_LO = 1_577_836_800_000_000  # 2020-01-01 in epoch micros
_TS_SPAN = 10 * 365 * 86_400_000_000
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _ts_text(micros: int) -> str:
    t = _EPOCH + _dt.timedelta(microseconds=micros)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _value(rng: random.Random, ydb_type: str):
    """(typed value, wire JSON value) for one column."""
    if ydb_type.startswith("Optional<"):
        if rng.random() < 0.2:
            return None, None
        ydb_type = _inner(ydb_type)
    if ydb_type == "Int64":
        v = rng.randrange(-(10**15), 10**15)
        return v, v
    if ydb_type == "Uint64":
        v = rng.randrange(UINT64_MAX + 1)
        return v, v
    if ydb_type == "Double":
        v = round(rng.uniform(-1e5, 1e5), 2)
        return v, v
    if ydb_type == "Utf8":
        v = f"s{rng.randrange(10**9)}"
        return v, v
    if ydb_type == "String":
        raw = rng.randbytes(rng.randrange(1, 24))
        return raw, base64.b64encode(raw).decode()
    if ydb_type == "Date":
        v = rng.randrange(30_000)
        return v, v
    if ydb_type == "Timestamp":
        v = _TS_LO + rng.randrange(_TS_SPAN)
        return v, _ts_text(v)
    if ydb_type == "Bool":
        v = rng.random() < 0.5
        return v, v
    raise ValueError(f"no generator for {ydb_type}")


def _key(table: Table, k: int) -> tuple:
    """Typed key tuple of key rank ``k``."""
    if table.columns[table.pk[0]] == "Uint64":
        return (UINT64_MAX - k * 7919,)
    return (k,)


def _partition(k: int) -> int:
    return (k * 2654435761 >> 7) % N_PARTITIONS


class _KeyPicker:
    def __init__(self, table: Table):
        self.n = table.n_keys
        self.cum = None
        if table.zipf_s:
            acc, cum = 0.0, []
            for r in range(1, self.n + 1):
                acc += r ** -table.zipf_s
                cum.append(acc)
            self.cum = cum

    def __call__(self, rng: random.Random) -> int:
        if self.cum is None:
            return rng.randrange(self.n)
        return bisect.bisect(self.cum, rng.random() * self.cum[-1])


class FeedSpec:
    """One workload's changefeed: its tables and per-file shape."""

    def __init__(
        self,
        seed: int,
        name: str,
        tables: str,
        events_per_file: int,
        late_frac: float = 0.0,
        hb_jitter_us: int = 0,
        warmup_events: tuple[int, ...] = (),
    ):
        self.seed = seed
        self.name = name
        self.tables = TABLE_SETS[tables]
        self.events_per_file = events_per_file
        self.late_frac = late_frac
        self.hb_jitter_us = hb_jitter_us
        # file j < len(warmup_events) holds warmup_events[j] events
        self.warmup_events = warmup_events
        self._pickers = [_KeyPicker(t) for t in self.tables]

    @property
    def expected_partitions(self) -> int:
        return len(self.tables) * N_PARTITIONS

    def heartbeat(self, j: int, base_us: int, t: int, p: int, closing: bool = False) -> int:
        """Heartbeat step of (table ``t``, partition ``p``) closing file
        ``j`` whose events start at ``base_us``. Without jitter, or in a
        ``closing`` file, every partition closes at the same step, above
        all of the file's events. With jitter, partition ``j % 8`` of each
        table closes ``hb_jitter_us`` below that and the others somewhere
        in between, so the quorum cut leaves the same share of every file
        pending while partitions still disagree on their highs."""
        top = base_us + 1_000_000
        if closing or not self.hb_jitter_us:
            return top
        if p == j % N_PARTITIONS:
            return top - self.hb_jitter_us
        r = random.Random(f"{self.seed}:{self.name}:hb:{j}:{t}:{p}")
        return top - r.randrange(self.hb_jitter_us)

    def file(self, j: int, base_us: int, closing: bool = False):
        """(JSONL text, records) of file ``j``. Events are spread over
        ``[base_us, base_us + 1 s)`` in offset order; each
        (table, partition) ends with one heartbeat. The heartbeats of a
        ``closing`` file pass every event still pending."""
        rng = random.Random(f"{self.seed}:{self.name}:file:{j}")
        n = self.warmup_events[j] if j < len(self.warmup_events) else self.events_per_file
        next_off = {}
        out = []
        recs = []
        for i in range(n):
            t = rng.randrange(len(self.tables))
            table = self.tables[t]
            k = self._pickers[t](rng)
            p = _partition(k)
            off = next_off.get((t, p), j * FILE_STRIDE)
            next_off[(t, p)] = off + 1
            step = base_us + i * 1_000_000 // n
            if j and self.late_frac and rng.random() < self.late_frac:
                # below the heartbeat this partition sent with file j-1
                prev = self.heartbeat(j - 1, base_us - 1_000_000, t, p)
                step = prev - 1 - rng.randrange(1000)
            tx = j * FILE_STRIDE + i + 1
            key = _key(table, k)
            if rng.random() < ERASE_FRAC:
                cols, wire = None, {"erase": {}, "key": list(key), "ts": [step, tx]}
            else:
                vcols = table.value_columns
                chosen = [c for c in vcols if rng.random() < 0.5] or [rng.choice(vcols)]
                cols, wcols = {}, {}
                for c in chosen:
                    cols[c], wcols[c] = _value(rng, table.columns[c])
                wire = {"update": wcols, "key": list(key), "ts": [step, tx]}
            recs.append((t, p, off, "e" if cols is None else "u", key, cols, step, tx))
            out.append(
                '{"table_id":%d,"partition":%d,"offset":%d,"value":%s}'
                % (t, p, off, json.dumps(json.dumps(wire, separators=(",", ":"))))
            )
        for t in range(len(self.tables)):
            for p in range(N_PARTITIONS):
                off = next_off.get((t, p), j * FILE_STRIDE)
                next_off[(t, p)] = off + 1
                hb = self.heartbeat(j, base_us, t, p, closing)
                recs.append((t, p, off, "h", None, None, hb, 0))
                wire = json.dumps({"resolved": [hb, 0]})
                out.append(
                    '{"table_id":%d,"partition":%d,"offset":%d,"value":%s}'
                    % (t, p, off, json.dumps(wire))
                )
        return "\n".join(out) + "\n", recs


def write_atomic(path: str, text: str) -> None:
    """Write ``text`` to ``path`` via a hidden temp file and a rename, so a
    file source never lists a half-written file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)

