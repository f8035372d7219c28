"""Open-loop stream ingest with an API reader beside it.

A feeder thread publishes pre-rendered wire-JSONL files (from
``sources.generator.generate_events``) into the source directory by
atomic rename, one file per tick.  The pipeline is
``read_event_stream_json`` → ``start_pipeline(flush_interval=None)`` →
``ParquetUpsertSink``, so each micro-batch starts as soon as the previous
one ends.  A reader thread calls ``operators.api.get_aggregations`` over
the live sink table after every commit, for the whole live window and
the backfill.  Five backfill bursts of files published at once follow,
each drained to completion before the next.

The sink is a single writer whose two-rename swap leaves a window where
the table directory is absent, so the reader holds the sink call off
while it reads, as the sink's contract asks; a read that still fails
counts as a failed operation.  Reading once per commit, right after it,
keeps the delay the reader adds to each micro-batch the same from run to
run.  A race probe follows: a short live window at the same rate with a
closed-loop reader that ignores the sink, whose reads and failures (no
retry) measure the swap window.  They are reported on their own and kept
out of the operation counts, because how many of them land in a swap is
left to the scheduler.

Each file is timed from its *due* publish time to the end of the sink
call of the micro-batch that read it (the moment the rows become
visible), with the file → batch map read from the checkpoint's source
log.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql import functions as F

from data_pipeline_zeal_spark.operators import api
from data_pipeline_zeal_spark.operators.hourly import aggregate_events
from data_pipeline_zeal_spark.sources.generator import generate_events
from data_pipeline_zeal_spark.streaming.pipeline import (
    ParquetUpsertSink,
    parse_events,
    read_event_stream_json,
    start_pipeline,
)

import check

EVENTS_PER_FILE = 500
TICK_S = 0.125  # 4,000 events/s offered
FILE_EVENT_TIME_S = 300  # each file spans 5 minutes of event time
WARM_ROUNDS = 2  # rounds of two files, each drained before timing
BURST_FILES = 20
BURSTS = 5
PROBE_FILES = 16  # race probe: 2 s at the live rate
NUM_USERS = 100


def _quantile(xs: list[float], q: int) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


class Reads:
    def __init__(self) -> None:
        self.ok: list[float] = []
        self.failed = 0
        self.errors: dict[str, int] = {}

    @property
    def calls(self) -> int:
        return len(self.ok) + self.failed


class StreamRun:
    def __init__(self, spark, work: str, seed: int, seconds: float, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.src = os.path.join(work, "stream_in")
        self.staging = os.path.join(work, "stream_staging")
        self.ckpt = os.path.join(work, "stream_ckpt")
        self.sink = ParquetUpsertSink(os.path.join(work, "stream_table"))
        self.n_live = max(1, round(seconds / TICK_S))
        self.n_files = 2 * WARM_ROUNDS + self.n_live + BURSTS * BURST_FILES + PROBE_FILES
        self.publish: dict[int, float] = {}
        self.due: dict[int, float] = {}
        self.commits: dict[int, float] = {}
        self.sink_s: list[float] = []
        self.turn = threading.Lock()  # a read or a sink call, never both
        self.committed = threading.Event()
        self.reads = Reads()  # one after each commit: the workload's reads
        self.race_reads = Reads()  # the race probe's unsynchronised reads
        self.query = None
        self.bursts: list[tuple[int, int, float]] = []  # (first, end, publish)
        self.mismatch: str | None = None
        self.trace_from: float | None = None
        self.first_live = 2 * WARM_ROUNDS

    # -- inputs ----------------------------------------------------------

    def render(self) -> list[list[str]]:
        """Generate every event once and render the wire lines per file."""
        events = generate_events(
            self.spark,
            self.n_files * EVENTS_PER_FILE,
            num_users=NUM_USERS,
            events_per_second=EVENTS_PER_FILE / FILE_EVENT_TIME_S,
            seed=self.seed,
        )
        lines = [
            r.value
            for r in events.select(
                F.to_json(F.struct(*events.columns)).alias("value")
            )
            .collect()
        ]
        return [
            lines[i * EVENTS_PER_FILE:(i + 1) * EVENTS_PER_FILE]
            for i in range(self.n_files)
        ]

    def stage(self, files: list[list[str]]) -> None:
        os.makedirs(self.staging, exist_ok=True)
        os.makedirs(self.src, exist_ok=True)
        for i, lines in enumerate(files):
            with open(os.path.join(self.staging, f"part-{i:05d}.jsonl"), "w") as f:
                f.write("\n".join(lines) + "\n")

    def _publish(self, i: int) -> None:
        name = f"part-{i:05d}.jsonl"
        os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))
        self.publish[i] = time.time()

    # -- pipeline --------------------------------------------------------

    def _sink(self, batch, batch_id: int) -> None:
        with self.turn:
            t0 = time.time()
            with self.tracer.span("sink", batch_id=batch_id):
                self.sink(batch, batch_id)
            t1 = time.time()
        self.commits[batch_id] = t1
        self.sink_s.append(t1 - t0)
        self.committed.set()

    def start(self) -> None:
        """Start the pipeline and drain the warm-up files."""
        self.query = start_pipeline(
            read_event_stream_json(self.spark, self.src),
            self._sink,
            self.ckpt,
            flush_interval=None,
            query_name="bench-hourly",
        )
        for r in range(WARM_ROUNDS):
            self._publish(2 * r)
            self._publish(2 * r + 1)
            self.query.processAllAvailable()

    def _reader(self, stop: threading.Event, reads: Reads, after_commits: bool) -> None:
        while not stop.is_set():
            if after_commits:
                if not self.committed.wait(0.05):
                    continue
                self.committed.clear()
            with self.turn if after_commits else contextlib.nullcontext():
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("api.get_aggregations", after_commits=after_commits):
                        api.get_aggregations(self.sink.read(self.spark), limit=100).collect()
                    reads.ok.append(time.perf_counter() - t0)
                except Exception as e:  # counted as measured, never retried
                    reads.failed += 1
                    kind = type(e).__name__
                    reads.errors[kind] = reads.errors.get(kind, 0) + 1

    def _feeder(self, t0: float, first: int, n: int) -> None:
        for k in range(n):
            i = first + k
            self.due[i] = t0 + k * TICK_S
            delay = self.due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            if self.trace_from is not None and self.due[i] >= self.trace_from:
                self.tracer.enabled = True
            self._publish(i)

    def run(self, trace: bool) -> None:
        """Live window, then the backfill bursts, with the reader throughout.
        A traced run turns spans on for the second half of the live window."""
        stop = threading.Event()
        reader = threading.Thread(target=self._reader, args=(stop, self.reads, True))
        t0 = time.time() + 0.05
        if trace:
            self.tracer.enabled = False
            self.trace_from = t0 + self.n_live * TICK_S / 2
        feeder = threading.Thread(target=self._feeder, args=(t0, self.first_live, self.n_live))
        reader.start()
        feeder.start()
        try:
            feeder.join()
            self.query.processAllAvailable()
            self.tracer.enabled = trace
            first = self.first_live + self.n_live
            for _ in range(BURSTS):
                b0 = time.time()
                for i in range(first, first + BURST_FILES):
                    self._publish(i)
                self.query.processAllAvailable()
                self.bursts.append((first, first + BURST_FILES, b0))
                first += BURST_FILES
        finally:
            stop.set()
            reader.join()
        self.race_probe(first)
        self.query.stop()
        self.query.awaitTermination(60)

    def race_probe(self, first: int) -> None:
        """PROBE_FILES more files at the live rate, read in a closed loop
        that ignores the sink."""
        stop = threading.Event()
        reader = threading.Thread(target=self._reader, args=(stop, self.race_reads, False))
        reader.start()
        try:
            self._feeder(time.time() + 0.05, first, PROBE_FILES)
            self.query.processAllAvailable()
        finally:
            stop.set()
            reader.join()

    # -- results ---------------------------------------------------------

    def file_batches(self) -> dict[int, int]:
        """file index → id of the micro-batch that read it.  The source log
        numbers its entries by source offset; the query's offset log gives
        each micro-batch's end offset."""
        def entries(sub: str):
            for path in glob.glob(os.path.join(self.ckpt, sub, "*")):
                if os.path.basename(path).split(".")[0].isdigit():
                    with open(path) as f:
                        yield path, [ln for ln in f.read().splitlines() if ln.startswith("{")]

        end = {}  # micro-batch id → source end offset
        for path, lines in entries("offsets"):
            end[int(os.path.basename(path))] = json.loads(lines[-1])["logOffset"]
        by_offset = sorted((o, b) for b, o in end.items())
        out = {}
        for _, lines in entries(os.path.join("sources", "0")):
            for line in lines:
                e = json.loads(line)
                i = int(os.path.basename(e["path"]).split("-")[1].split(".")[0])
                out[i] = next(b for o, b in by_offset if o >= e["batchId"])
        return out

    def check_table(self) -> None:
        """The drained sink table must equal the batch aggregate of every
        published event."""
        got = self.sink.read(self.spark)
        batch_events = parse_events(
            self.spark.read.text(self.src).select(F.col("value").alias("raw"))
        )
        want = aggregate_events(
            batch_events, ts_col="timestamp", session_col="session_id",
            value_col="duration_ms",
        )
        cols = sorted(want.columns)
        if sorted(got.columns) != cols:
            self.mismatch = f"columns {sorted(got.columns)} != {cols}"
            return
        a = check.normalize([tuple(r) for r in got.select(*cols).collect()], cols)
        b = check.normalize([tuple(r) for r in want.select(*cols).collect()], cols)
        if a != b:
            diff = len(set(a) ^ set(b))
            self.mismatch = f"{diff} rows differ ({len(a)} vs {len(b)})"

    def freshness(self) -> tuple[list[float], list[float]]:
        """Freshness of live files, split at the traced half (if any)."""
        batches = self.file_batches()
        first, last = self.first_live, self.first_live + self.n_live
        before, after = [], []
        for i in range(first, last):
            f = self.commits[batches[i]] - self.due[i]
            late_half = self.trace_from is not None and self.due[i] >= self.trace_from
            (after if late_half else before).append(f)
        return before, after

    def end_to_end(self) -> dict[str, float]:
        fresh, _ = self.freshness()
        return {
            "pass_s": self.backfill_seconds(),
            "latency_s": statistics.median(fresh),
        }

    def burst_drains(self) -> list[float]:
        """Per burst: publish → last commit of the burst."""
        batches = self.file_batches()
        return [
            max(self.commits[batches[i]] for i in range(a, b)) - t0
            for a, b, t0 in self.bursts
        ]

    def backfill_seconds(self) -> float:
        return statistics.median(self.burst_drains())

    def progress(self) -> list:
        return list(self.query.recentProgress)

    def per_layer(self) -> dict[str, float]:
        prog = self.progress()
        data = [p for p in prog if p.get("numInputRows")]
        dur = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in data)  # noqa: E731
        states = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        batches = self.file_batches()
        start = {
            p["batchId"]: dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            for p in prog
        }
        backlog = 0
        for b, t in start.items():
            waiting = [i for i, pb in batches.items() if pb >= b and self.publish[i] <= t]
            backlog = max(backlog, len(waiting))
        live = range(self.first_live, self.first_live + self.n_live)
        before, after = self.freshness()
        reads = self.reads.ok or [0.0]
        burst = BURST_FILES * EVENTS_PER_FILE
        return {
            "stream.batches": float(len(prog)),
            "stream.freshness_p90_s": _quantile(before + after, 9),
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "state.rows_total": float(max(s.get("numRowsTotal", 0) for s in states)),
            "state.memory_bytes": float(max(s.get("memoryUsedBytes", 0) for s in states)),
            "state.commit_ms": statistics.median(s.get("commitTimeMs", 0) for s in states),
            "state.rows_dropped_by_watermark": float(
                sum(s.get("numRowsDroppedByWatermark", 0) for s in states)
            ),
            "sink.call_s": statistics.median(self.sink_s),
            "source.backlog_files_max": float(backlog),
            "read.calls": float(self.reads.calls),
            "read.race_calls": float(self.race_reads.calls),
            "read.race_failed": float(self.race_reads.failed),
            "read.p50_s": statistics.median(reads),
            "read.p90_s": _quantile(reads, 9),
            "feeder_late_max_s": max(self.publish[i] - self.due[i] for i in live),
            "backfill_events_per_s": burst / self.backfill_seconds(),
            "trace_overhead_ratio": (
                statistics.median(after) / statistics.median(before) if after else 1.0
            ),
        }
