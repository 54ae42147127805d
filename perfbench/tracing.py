"""Per-layer tracing from outside the program.

Spans are recorded by wrapping the public functions and methods each
layer exposes, at the names the streaming engine looks them up by; the
program itself is not changed. Spark-side counts come from two sources
Spark already has: ``StreamingQuery.recentProgress`` for trigger phases,
and the event log (``spark.eventLog.enabled``) for jobs, stages, tasks,
shuffle bytes, spill, executor run time and GC time, attributed to a
micro-batch through the job group the batch wrapper sets.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import aardappel_spark.streaming as streaming_mod

# plan-building calls of the batch kernel, patched where streaming.py
# looks them up
KERNEL_NAMES = (
    "parse_messages",
    "cut_below_quorum",
    "compact_changes",
    "typed_mutations",
    "merge_mutations",
)


def batch_group(batch_id: int) -> str:
    return f"perfbench-batch-{batch_id}"


class Tracer:
    """In-memory spans: (name, start, end, parent index, batch id, extra)."""

    def __init__(self):
        self.spans: list[list] = []
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._restore: list = []

    @contextmanager
    def span(self, name: str, batch_id: int | None = None, extra: dict | None = None):
        b0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if batch_id is None and parent is not None:
            batch_id = self.spans[parent][4]
        rec = [name, 0.0, 0.0, parent, batch_id, extra or {}]
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        b1 = time.perf_counter()
        rec[1] = b1
        try:
            yield rec
        finally:
            rec[2] = time.perf_counter()
            stack.pop()
            self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - rec[2])

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, obj, attr: str, new) -> None:
        had = attr in vars(obj)
        self._restore.append((obj, attr, vars(obj).get(attr), had))
        setattr(obj, attr, new)

    def instrument(self, engine) -> None:
        """Wrap the engine's layer boundaries; ``restore()`` undoes it."""
        for n in KERNEL_NAMES:
            self._patch(streaming_mod, n, self.wrap(getattr(streaming_mod, n), "kernel.plan"))
        self._patch(engine, "_write_pending", self.wrap(engine._write_pending, "streaming.pending"))
        self._patch(engine, "_persist_hb", self.wrap(engine._persist_hb, "streaming.hb_offsets"))
        self._patch(
            engine, "_persist_offsets", self.wrap(engine._persist_offsets, "streaming.hb_offsets")
        )
        self._patch(engine.state, "write", self.wrap(engine.state.write, "streaming.state"))
        for tbl in engine.tables.values():
            self._patch(tbl, "commit", self._wrap_commit(tbl))

    def _wrap_commit(self, tbl):
        orig = tbl.commit

        @functools.wraps(orig)
        def commit(df, version, touched=None):
            with self.span("commit") as rec:
                orig(df, version, touched=touched)
            b0 = time.perf_counter()
            written = linked = nbytes = 0
            vdir = os.path.join(tbl.path, f"v{version}")
            for bdir in os.listdir(vdir):
                if not bdir.startswith("pkb="):
                    continue
                for fn in os.listdir(os.path.join(vdir, bdir)):
                    if fn.startswith(("_", ".")):
                        continue
                    st = os.stat(os.path.join(vdir, bdir, fn))
                    if st.st_nlink > 1:
                        linked += 1
                    else:
                        written += 1
                        nbytes += st.st_size
            rec[5].update(
                touched=tbl.n_buckets if touched is None else len(touched),
                files_written=written,
                bytes_written=nbytes,
                linked=linked,
            )
            self.bookkeeping_s += time.perf_counter() - b0

        return commit

    def restore(self) -> None:
        for obj, attr, old, had in reversed(self._restore):
            if had:
                setattr(obj, attr, old)
            else:
                delattr(obj, attr)
        self._restore.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "batch_id": b, **x}
                    for n, s, e, p, b, x in self.spans
                ],
                f,
            )

    def batch_layers(self) -> dict[int, dict]:
        """Per batch id: seconds per span name among the batch span's
        direct children, the batch span's self time, and commit counts."""
        out: dict[int, dict] = {}
        children = defaultdict(list)
        for i, (_n, s, e, p, _b, _x) in enumerate(self.spans):
            if p is not None:
                children[p].append(i)
        for i, (name, s, e, p, b, _x) in enumerate(self.spans):
            if name != "streaming.batch":
                continue
            rec = defaultdict(float)
            rec["batch_s"] = e - s
            covered = 0.0
            end = s
            for c in sorted(children[i], key=lambda c: self.spans[c][1]):
                cn, cs, ce, _cp, _cb, cx = self.spans[c]
                rec[cn] += ce - cs
                lo = max(cs, end)
                if ce > lo:
                    covered += ce - lo
                    end = ce
                for k, v in cx.items():
                    rec["commit." + k] += v
            rec["self_s"] = (e - s) - covered
            out[b] = rec
        return out


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, completed stages, tasks and summed task metrics."""
    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                agg[g]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerStageCompleted":
                agg[stage_group.get(e["Stage Info"]["Stage ID"], "")]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                a = agg[stage_group.get(e["Stage ID"], "")]
                a["tasks"] += 1
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                a["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                a["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                a["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                a["run_ms"] += m.get("Executor Run Time", 0)
                a["gc_ms"] += m.get("JVM GC Time", 0)
    return agg


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    """Trigger phases from StreamingQuery.recentProgress (seconds)."""
    if not progress:
        return {}

    def med(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in progress) / 1000

    def start(p):
        from datetime import datetime

        return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()

    idle = [
        start(b) - (start(a) + a["durationMs"]["triggerExecution"] / 1000)
        for a, b in zip(progress, progress[1:])
    ]
    return {
        "trigger.cycle_s": med("triggerExecution"),
        "trigger.latest_offset_s": med("latestOffset"),
        "trigger.wal_commit_s": med("walCommit"),
        "trigger.commit_offsets_s": med("commitOffsets"),
        "trigger.idle_s": statistics.median(idle) if idle else 0.0,
        "trigger.rows_per_batch": statistics.median(p["numInputRows"] for p in progress),
    }
