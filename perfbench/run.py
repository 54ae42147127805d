"""Replication benchmark for aardappel_spark.

Drives ``ReplicationEngine`` through Structured Streaming on seeded CDC
changefeeds and prints one JSON line:

    python3 perfbench/run.py --workload cdc_paced --seed 1 --seconds 40 --trace 0

Workloads (perfbench/README.md says why each exists):

* ``cdc_paced``   open loop: a generator thread writes one file of 2,000
  events per second until the engine has run the warm-up batch and
  PACED_BATCHES - 1 measured ones; the last measured batch drains.
* ``cdc_catchup`` closed loop: two warm-up files, then a backlog file of
  30,000 events, all generated before Spark starts; the backlog is
  revealed once the warm-up batches are committed and drained by one
  trigger; its heartbeats pass every pending event.

``--seconds`` caps the paced load phase at that many files. ``--trace 0``
reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
instruments the layers and reports its per-layer metrics. Every run
checks the destination tables, the ``_state`` checkpoint and the
dead-letter queue against a pure-Python model of the generated feed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")

PACED_EVENTS = 2_000  # per file, one file per second
# events in paced file 0, the warm-up: a small first file makes the cold
# first batch, and so every run's set-up, about 5 s shorter
PACED_WARMUP_EVENTS = 100
CATCHUP_EVENTS = 30_000  # in the backlog file, drained by one batch
CATCHUP_BASE_US = 1_600_000_000_000_000  # virtual step of catch-up file 0
# Events in each catch-up warm-up file, committed by one batch each
# before the backlog is revealed. Two files, not one: the JVM's second
# batch is the one whose time depends most on how far its JIT has got,
# so the measured batch is its third. Small ones, because a batch this
# early costs 10-15 s whatever its size.
CATCHUP_WARMUP_EVENTS = (100, 1_000)
# Paced batches measured after the warm-up batch. Few, because one batch
# costs 7-12 s on a 4-core box and a run has about a minute; a fixed
# count, not a fixed time, keeps every run's batch structure the same.
PACED_BATCHES = 4
# a paced run is invalid when the generator writes a file this late ...
GEN_LATE_BOUND_S = 0.5
# ... or when the median lag of the last third of its files exceeds the
# first third's by this share, i.e. the backlog grows
LAG_TREND_BOUND = 0.5


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- Spark session ---------------------------------------------------------


def start_spark(work: str, cores: int, event_log_dir: str | None):
    """A local session whose scratch files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    confs = [
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.sql.streaming.numRecentProgressUpdates=1000",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["SPARK_GRAFT_EXTRA_CONFS"] = ",".join(confs)
    from aardappel_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def open_session(args, work: str):
    """Start the run's Spark session; returns it and its start time."""
    t_session = time.time()
    spark = start_spark(work, args.cores, event_log_path(args, work))
    log(f"session up after {time.time() - t_session:.1f} s")
    return spark, t_session


def event_log_path(args, work: str) -> str | None:
    return os.path.join(work, "eventlog") if args.trace else None


def stop_spark() -> None:
    """Stop the active session, if any, and wait for the JVM to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    sc.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time that the hypervisor gave to other
    guests between two ``cpu_ticks`` readings. A high share means the run
    was slowed by the host, not by the program."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def peak_rss_mb() -> float:
    """VmHWM of this process plus every descendant (the Spark JVM)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    pids, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in pids:
                pids.add(c)
                frontier.append(c)
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


# -- engine ----------------------------------------------------------------


def make_engine(spark, spec, wdir: str):
    from aardappel_spark.casting import TableMeta
    from aardappel_spark.streaming import ReplicationEngine, StreamConfig

    streams = [
        StreamConfig(
            table_id=t,
            meta=TableMeta(tb.name, list(tb.pk), tb.columns),
            dst_path=os.path.join(wdir, "dst", tb.name),
            dst_schema=tb.ddl(),
            problem_strategy="continue",
        )
        for t, tb in enumerate(spec.tables)
    ]
    return ReplicationEngine(
        spark=spark,
        streams=streams,
        expected_partitions=spec.expected_partitions,
        work_dir=os.path.join(wdir, "engine"),
    )


def make_source(spark, src: str, one_file_per_trigger: bool):
    if not one_file_per_trigger:
        from aardappel_spark.sources import read_file_stream

        return read_file_stream(spark, src)
    return (
        spark.readStream.schema("table_id int, partition int, offset long, value string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )


class BatchRecorder:
    """Wraps ``engine.process_batch``: records each batch's wall time and
    the quorum its ``_state`` checkpoint holds when it returns."""

    def __init__(self, spark, engine, tracer=None):
        self.batches: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.cond = threading.Condition()
        inner = engine.process_batch

        def process_batch(raw, batch_id):
            self.attempted += 1
            start = time.time()
            c0 = time.perf_counter()
            if tracer is not None:
                from tracing import batch_group

                spark.sparkContext.setJobGroup(batch_group(batch_id), "perfbench batch")
            try:
                with tracer.span("streaming.batch", batch_id) if tracer else nullcontext():
                    inner(raw, batch_id)
            except BaseException:
                self.failed += 1
                with self.cond:
                    self.cond.notify_all()
                raise
            dur = time.perf_counter() - c0
            st = engine.state.read()
            with self.cond:
                self.batches.append(
                    {
                        "id": batch_id,
                        "start": start,
                        "end": start + dur,
                        "dur": dur,
                        "q": (int(st["step_id"]), int(st["tx_id"])),
                    }
                )
                self.cond.notify_all()

        engine.process_batch = process_batch

    def wait(self, query, pred, timeout: float) -> None:
        deadline = time.time() + timeout
        with self.cond:
            while not pred():
                if self.failed or not query.isActive:
                    exc = query.exception()
                    raise RuntimeError(f"streaming query ended: {exc}")
                left = deadline - time.time()
                if left <= 0:
                    raise TimeoutError("engine did not catch up in time")
                self.cond.wait(min(left, 0.5))


# -- checks ----------------------------------------------------------------


def check_outputs(spec, engine, model, recorder) -> list[str]:
    from model import compare_tables, count_parquet_rows, read_state

    errors = []
    got_q = [b["q"] for b in recorder.batches]
    if got_q != model.quorums:
        errors.append(f"checkpoint sequence {got_q} != model {model.quorums}")
    st = read_state(engine.state.path)
    if (int(st["step_id"]), int(st["tx_id"])) != model.checkpoint:
        errors.append(f"_state at {st['step_id']},{st['tx_id']}, model {model.checkpoint}")
    if st["state"] != "OK" or st["stage"] != "RUN":
        errors.append(f"_state is {st['state']}/{st['stage']}")
    if model.pending:
        # every workload's last file closes all partitions
        errors.append(f"{len(model.pending)} events left pending at the end of the run")
    dlq = count_parquet_rows(engine.dlq_dir)
    if dlq != model.dlq_rows:
        errors.append(f"DLQ holds {dlq} rows, model {model.dlq_rows}")
    errors += compare_tables(model, spec.tables, [s.dst_path for s in engine.streams])
    return errors


def lag_samples(steps_us: np.ndarray, created_s: np.ndarray, batches: list[dict]) -> np.ndarray:
    """Seconds from creation to the end of the first batch whose committed
    quorum passes each event. Heartbeats carry tx 0 and events tx >= 1, so
    an event at step s is below quorum (qs, 0) exactly when s < qs."""
    q_steps = np.array([b["q"][0] for b in batches], dtype=np.int64)
    ends = np.array([b["end"] for b in batches])
    idx = np.searchsorted(q_steps, steps_us, side="right")
    if (idx >= len(batches)).any():
        raise RuntimeError("an applied event was never passed by a committed quorum")
    return ends[idx] - created_s


# -- workloads -------------------------------------------------------------


class Feed:
    """One measured stream: a fresh engine on an empty source directory,
    with its process_batch wrapped by a BatchRecorder."""

    def __init__(self, spark, spec, work, tracer, one_file_per_trigger: bool):
        self.spec = spec
        self.dir = os.path.join(work, "run")
        self.src = os.path.join(self.dir, "src")
        os.makedirs(self.src, exist_ok=True)
        self.engine = make_engine(spark, spec, self.dir)
        self.recorder = BatchRecorder(spark, self.engine, tracer)
        if tracer:
            tracer.instrument(self.engine)
        self.query = self.engine.run_stream(
            make_source(spark, self.src, one_file_per_trigger),
            os.path.join(self.dir, "ckpt"),
            available_now=False,
        )

    def wait_batches(self, n: int) -> None:
        self.recorder.wait(self.query, lambda: len(self.recorder.batches) >= n, 180)

    def wait_progress(self) -> None:
        """Wait until the query has reported the last batch's progress,
        which it does after process_batch returns."""
        last = self.recorder.batches[-1]["id"]
        deadline = time.time() + 30
        while not any(p.batchId == last for p in self.query.recentProgress):
            if time.time() > deadline:
                raise TimeoutError(f"no progress report for batch {last}")
            time.sleep(0.05)

    def stop(self) -> list[dict]:
        """Stop the query; returns its progress reports as dicts."""
        progress = [json.loads(p.json) for p in self.query.recentProgress]
        self.query.stop()
        return progress

    def result(self, model, t_session: float, warmup: int = 1, **extra) -> dict:
        """The first ``warmup`` batches are the warm-up: set-up ends when
        the last of them is committed, and the batches after it are
        measured."""
        rec = self.recorder
        return dict(
            spec=self.spec,
            engine=self.engine,
            recorder=rec,
            warmup=warmup,
            measured=rec.batches[warmup:],
            measured_events=sum(model.applied_per_batch[warmup:]),
            model=model,
            errors=check_outputs(self.spec, self.engine, model, rec),
            setup_s=rec.batches[warmup - 1]["end"] - t_session,
            peak_rss_mb=peak_rss_mb(),
            **extra,
        )


def run_paced(args, work, tracer):
    from cdcgen import FeedSpec, write_atomic
    from model import ModelState

    spec = FeedSpec(
        args.seed, "cdc_paced", "paced", PACED_EVENTS, warmup_events=(PACED_WARMUP_EVENTS,)
    )
    spark, t_session = open_session(args, work)
    feed = Feed(spark, spec, work, tracer, one_file_per_trigger=False)
    files = []  # (due, written, records)

    def write_file(k: int, due: int, stop=lambda: False) -> bool:
        # events are created during the second before their file is due
        text, recs = spec.file(k, (due - 1) * 1_000_000)
        time.sleep(max(0.0, due - time.time()))
        if stop():
            return False
        write_atomic(os.path.join(feed.src, f"f{k:05d}.json"), text)
        files.append((due, time.time(), recs))
        return True

    gen_error = []
    rec = feed.recorder

    def generate(t0: int) -> None:
        # one file per second, on schedule, until the engine has finished
        # the warm-up and PACED_BATCHES - 1 measured batches (the last
        # measured batch then takes what arrived meanwhile) or the time
        # cap passes; the stop depends on progress, never the pace
        try:
            for k in range(1, args.seconds + 1):
                if not write_file(k, t0 + k, lambda: len(rec.batches) >= PACED_BATCHES):
                    break
        except BaseException as e:  # re-raised by the main thread
            gen_error.append(e)

    try:
        # warm-up: file 0 is committed before the open loop starts
        write_file(0, math.floor(time.time()))
        feed.wait_batches(1)
        log(f"warm-up committed after {time.time() - t_session:.1f} s")
        gen = threading.Thread(target=generate, args=(math.ceil(time.time()),))
        gen.start()
        gen.join()
        if gen_error:
            raise gen_error[0]
        last_hb = (files[-1][0] * 1_000_000, 0)
        rec.wait(feed.query, lambda: rec.batches[-1]["q"] >= last_hb, 180)
        feed.wait_progress()
    finally:
        progress = feed.stop()

    # batch membership: each file's heartbeats close it at its due second
    file_of_hb = {due * 1_000_000: k for k, (due, _, _) in enumerate(files)}
    model = ModelState(len(spec.tables), spec.expected_partitions)
    first_file = []
    nxt = 0
    for b in feed.recorder.batches:
        last = file_of_hb.get(b["q"][0])
        if last is None or last < nxt:
            raise RuntimeError(f"batch {b['id']} committed quorum {b['q']} closes no new file")
        first_file.append(nxt)
        model.batch([r for k in range(nxt, last + 1) for r in files[k][2]])
        nxt = last + 1

    measured_files = files[1:]
    per_file = []
    for _, _, recs in measured_files:
        steps = np.array([r[6] for r in recs if r[3] != "h"], dtype=np.int64)
        per_file.append(lag_samples(steps, steps / 1e6, feed.recorder.batches))
    lags = np.concatenate(per_file)
    third = max(1, len(per_file) // 3)
    first_third = float(np.median(np.concatenate(per_file[:third])))
    trend = float(np.median(np.concatenate(per_file[-third:]))) / first_third - 1
    late = [w - due for due, w, _ in measured_files]
    errors = []
    if max(late) > GEN_LATE_BOUND_S:
        errors.append(f"invalid open loop: generator ran {max(late):.3f} s late")
    if trend > LAG_TREND_BOUND:
        errors.append(f"invalid open loop: lag rose {trend:.0%} across the run (backlog grows)")
    log(f"paced: {len(files)} files, {len(feed.recorder.batches)} batches, lag trend {trend:+.0%}")
    written = [w for _, w, _ in files]
    backlog = [
        sum(1 for w in written if w <= b["start"]) - first
        for b, first in zip(feed.recorder.batches, first_file)
    ]
    res = feed.result(
        model,
        t_session,
        lags=lags,
        progress=progress,
        gen_late_max_s=max(late),
        gen_events=int(lags.size),
        backlog_max=max(backlog[1:]),
    )
    res["errors"] += errors
    return res


def catchup_spec(seed: int):
    from cdcgen import FeedSpec

    return FeedSpec(
        seed,
        "cdc_catchup",
        "catchup",
        CATCHUP_EVENTS,
        late_frac=0.001,
        hb_jitter_us=300_000,
        warmup_events=CATCHUP_WARMUP_EVENTS,
    )


def write_backlog(spec, work):
    """Write the warm-up files and the backlog file to a directory the
    engine does not read; returns the directory and each file's records.
    The backlog's heartbeats close every partition, so the run ends with
    nothing pending."""
    from cdcgen import write_atomic

    backlog_dir = os.path.join(work, "backlog")
    os.makedirs(backlog_dir)
    records = []
    last = len(CATCHUP_WARMUP_EVENTS)
    for j in range(last + 1):
        text, recs = spec.file(j, CATCHUP_BASE_US + j * 1_000_000, closing=j == last)
        write_atomic(os.path.join(backlog_dir, f"f{j:05d}.json"), text)
        records.append(recs)
    return backlog_dir, records


def run_catchup(args, work, tracer):
    from model import ModelState

    spec = catchup_spec(args.seed)
    # generated before the session starts, so setup_s holds none of it
    backlog_dir, records = write_backlog(spec, work)
    spark, t_session = open_session(args, work)
    feed = Feed(spark, spec, work, tracer, one_file_per_trigger=True)
    fed = []  # when each file became visible to the engine

    def reveal(j: int) -> None:
        name = f"f{j:05d}.json"
        os.rename(os.path.join(backlog_dir, name), os.path.join(feed.src, name))
        fed.append(time.time())

    warmup = len(CATCHUP_WARMUP_EVENTS)
    try:
        for j in range(warmup):
            reveal(j)
            feed.wait_batches(j + 1)
            log(f"warm-up {j} committed after {time.time() - t_session:.1f} s")
        reveal(warmup)  # the backlog, drained by one trigger
        feed.wait_batches(warmup + 1)
        feed.wait_progress()
    finally:
        progress = feed.stop()
    if len(feed.recorder.batches) != len(records):
        raise RuntimeError(f"{len(feed.recorder.batches)} batches for {len(records)} files")

    model = ModelState(len(spec.tables), spec.expected_partitions)
    for recs in records[:warmup]:
        model.batch(recs)
    hb_before = dict(model.hb)
    model.batch(records[warmup])
    # one lag sample per backlog event the engine applied; the out-of-order
    # ones, below their partition's earlier heartbeat, go to the DLQ
    steps = np.array(
        [
            r[6]
            for r in records[warmup]
            if r[3] != "h" and (r[6], r[7]) >= hb_before[(r[0], r[1])]
        ],
        dtype=np.int64,
    )
    lags = lag_samples(steps, np.full(steps.size, fed[warmup]), feed.recorder.batches)
    log(f"catch-up: {sum(model.applied_per_batch)} events applied")
    return feed.result(
        model,
        t_session,
        warmup=warmup,
        lags=lags,
        progress=progress,
        gen_late_max_s=0.0,
        gen_events=CATCHUP_EVENTS,
        backlog_max=1,  # the backlog file
    )


WORKLOADS = {"cdc_paced": run_paced, "cdc_catchup": run_catchup}


# -- metrics ---------------------------------------------------------------


def end_to_end(res) -> dict[str, float]:
    batches = res["measured"]
    return {
        "setup_s": res["setup_s"],
        "lag_p50_s": float(np.percentile(res["lags"], 50)),
        "lag_p99_s": float(np.percentile(res["lags"], 99)),
        "events_per_s": res["measured_events"] / sum(b["dur"] for b in batches),
        "batch_p50_s": statistics.median(b["dur"] for b in batches),
    }


def per_layer(res, tracer, groups: dict) -> tuple[dict[str, float], list[str]]:
    """Per-layer metrics (medians over the measured batches) and the
    within-run count-gate errors."""
    from tracing import batch_group, progress_metrics

    batches = res["measured"]
    ids = {b["id"] for b in batches}
    layers = tracer.batch_layers()
    mb = 1 / (1024 * 1024)

    def med(values):
        values = list(values)
        return float(statistics.median(values)) if values else 0.0

    def per_batch(key, scale=1.0):
        return med(groups.get(batch_group(b["id"]), {}).get(key, 0) * scale for b in batches)

    def layer(key):
        return med(layers.get(b["id"], {}).get(key, 0.0) for b in batches)

    commits = [layers.get(b["id"], {}) for b in batches]
    link = [
        c["commit.linked"] / (c["commit.linked"] + c["commit.files_written"])
        for c in commits
        if c.get("commit.linked", 0) + c.get("commit.files_written", 0)
    ]
    prev_q = res["recorder"].batches[res["warmup"] - 1]["q"]
    applied = 0
    for b in batches:
        applied += b["q"] != prev_q
        prev_q = b["q"]
    m = {
        **progress_metrics([p for p in res["progress"] if p["batchId"] in ids]),
        "trigger.backlog_files_max": res["backlog_max"],
        "streaming.batch_s": layer("batch_s"),
        "streaming.self_s": layer("self_s"),
        "streaming.jobs_per_batch": per_batch("jobs"),
        "streaming.stages_per_batch": per_batch("stages"),
        "streaming.tasks_per_batch": per_batch("tasks"),
        "streaming.apply_frac": applied / len(batches),
        "streaming.pending_s": layer("streaming.pending"),
        "streaming.hb_offsets_s": layer("streaming.hb_offsets"),
        "streaming.state_s": layer("streaming.state"),
        "commit.s": layer("commit"),
        "commit.touched_buckets": layer("commit.touched"),
        "commit.files_written": layer("commit.files_written"),
        "commit.bytes_written": layer("commit.bytes_written"),
        "commit.link_frac": med(link),
        "kernel.plan_s": layer("kernel.plan"),
        "gen.late_max_s": res["gen_late_max_s"],
        "gen.events": res["gen_events"],
        "dlq.rows": res["model"].dlq_rows,
        "spark.shuffle_write_mb": per_batch("shuffle_write", mb),
        "spark.shuffle_read_mb": per_batch("shuffle_read", mb),
        "spark.spill_mb": per_batch("spill", mb),
        "spark.executor_run_s": per_batch("run_ms", 1e-3),
        "spark.jvm_gc_s": per_batch("gc_ms", 1e-3),
        "trace.bookkeeping_s": tracer.bookkeeping_s / len(batches),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    # count gate: every measured batch runs the same number of jobs. Stage
    # counts are reported but not gated: adaptive execution skips or adds
    # stages from runtime sizes, so they differ between batches of one run.
    errors = []
    jobs = {groups.get(batch_group(b["id"]), {}).get("jobs", 0) for b in batches}
    if len(jobs) > 1:
        errors.append(f"jobs per batch vary across measured batches: {sorted(jobs)}")
    return m, errors


def code_hash() -> str:
    """Hash of the program's and the benchmark's source, naming the code
    a count belongs to."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "aardappel_spark"), HERE):
        for d, _, files in sorted(os.walk(top)):
            for n in sorted(files):
                if n.endswith(".py"):
                    path = os.path.join(d, n)
                    h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def count_gate(workload: str, metrics: dict) -> list[str]:
    """Jobs per batch must repeat exactly across traced runs of the same
    program source: the first traced run of a source records the count,
    later runs of that source compare with it."""
    keys = ("streaming.jobs_per_batch",)
    now = {k: metrics[k] for k in keys}
    path = os.path.join(OUT, f"counts-{workload}-{code_hash()}.json")
    if not os.path.exists(path):
        with open(path, "w") as f:
            json.dump(now, f)
        return []
    with open(path) as f:
        then = json.load(f)
    return [f"{k} is {now[k]}, an earlier run had {then[k]}" for k in keys if then.get(k) != now[k]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Two task threads on a 4-vCPU box: the batches are bound by serial
    # driver-side work, so four buy nothing, and two leave vCPUs to the
    # driver, JIT and GC threads instead of measuring the OS scheduler
    ap.add_argument("--cores", type=int, default=2, help="Spark local[N] (1 for the single-core baseline)")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "aardappel_spark")):
        log(f"no aardappel_spark package under {ROOT}; nothing to benchmark")
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(OUT, exist_ok=True)
    ticks = cpu_ticks()
    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
        try:
            res = WORKLOADS[args.workload](args, work, tracer)
        finally:
            if tracer:
                tracer.restore()
        errors = list(res["errors"])
        log(f"measured batches (s): {[round(b['dur'], 2) for b in res['measured']]}")
        log(f"CPU steal during the run: {steal_share(ticks, cpu_ticks()):.1%}")
        if args.trace:
            from tracing import parse_event_log

            stop_spark()
            log_dir = event_log_path(args, work)
            (log_file,) = [
                os.path.join(log_dir, n) for n in os.listdir(log_dir) if not n.startswith(".")
            ]
            values, gate_errors = per_layer(res, tracer, parse_event_log(log_file))
            errors += gate_errors
            if not gate_errors:
                errors += count_gate(args.workload, values)
            tracer.dump(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"))
            wanted = spec["per_layer"]
        else:
            values = end_to_end(res)
            wanted = spec["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        for e in errors:
            log(f"CHECK FAILED: {e}")
        rec = res["recorder"]
        print(
            json.dumps(
                {
                    "correct": not errors,
                    "attempted": rec.attempted,
                    "failed": rec.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
