#!/usr/bin/env python3
"""Benchmark: three seeded workloads over the engine, on ``local[nproc]``.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root.  Workloads:

* ``etl_batch`` — closed loop, one client, nine scan/shuffle/join queries
  of the registry over seeded tables at sf0.02 (lineitem ~120k rows,
  orders 30k, events 20k).
* ``curation_index`` — closed loop, one client, three builder-heavy
  queries (near-duplicate pairs, BM25 delete + search, IVF segment
  append + search) at sf0.01 (500 documents, 500 embeddings of dim 64).
* ``stream_ingest`` — open-loop file feeder (500 events per file, one
  file every 0.125 s: 4,000 events/s) into the streaming pipeline, a
  API reader beside it that reads after every commit, holding the sink
  off while it reads, then five backfill bursts of 20 files (10,000
  events) each, every one drained before the next, then a 2 s race probe
  whose unsynchronised reads measure the sink's swap window (reported,
  not counted).

``--seed`` drives the tables and the generated events; the program sees
only the generated inputs.  Set-up (session start, input staging, untimed
warm-up pass that also checks every output) is reported as ``setup_s``;
the timed window then runs for ``--seconds``.  ``pass_s`` is the median
pass of the mix (stream: the median burst drain) and ``latency_s`` the
geometric mean of the per-query times (stream: the median file
freshness).
With ``--trace 0`` the last line reports the end-to-end metrics; with
``--trace 1`` the per-layer metrics of a traced run, whose spans are
written to ``perfbench/traces/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  Everything the run writes
lives under ``perfbench/.work/`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ["etl_batch", "curation_index", "stream_ingest"]
#: scale factor of the batch tables per workload
SF = {"etl_batch": 0.02, "curation_index": 0.01}
STAGING_REPEATS = 3
NPROC = len(os.sched_getaffinity(0))

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "latency_s": "s",
}


def per_layer_units() -> dict[str, str]:
    from batch import ENGINE_KEYS, TRACKED

    units = {"mem.peak_rss_mb": "MB", "builder_s": "s", "action_s": "s"}
    for k in ENGINE_KEYS:
        units[f"spark.{k}"] = (
            "ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes")
            else "s" if k.endswith("_s") else "count"
        )
    units["persisted_rdds_left"] = "count"
    for q in TRACKED:
        units[f"q.{q}.s"] = "s"
        units[f"q.{q}.jobs"] = "count"
    units.update({
        "stream.batches": "count",
        "stream.freshness_p90_s": "s",
        "stream.trigger_ms": "ms",
        "stream.add_batch_ms": "ms",
        "stream.query_planning_ms": "ms",
        "stream.wal_commit_ms": "ms",
        "stream.commit_offsets_ms": "ms",
        "state.rows_total": "count",
        "state.memory_bytes": "bytes",
        "state.commit_ms": "ms",
        "state.rows_dropped_by_watermark": "count",
        "sink.call_s": "s",
        "source.backlog_files_max": "count",
        "read.calls": "count",
        "read.race_calls": "count",
        "read.race_failed": "count",
        "read.p50_s": "s",
        "read.p90_s": "s",
        "feeder_late_max_s": "s",
        "backfill_events_per_s": "1/s",
        "trace_overhead_ratio": "ratio",
    })
    return units


def _isolate(work: str) -> None:
    """Keep every file the run (and the engine under it) writes inside
    ``work``: Python temp dirs, Spark local dirs, workers' import path."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    # every JVM the launcher starts: temp files under ``work``, and no
    # hsperfdata file, which the JVM would otherwise put in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _start_spark(work: str):
    from data_pipeline_zeal_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    import tracing as tr

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while tr.children(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def _median_time(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_batch(spark, workload: str, work: str, args, tracer) -> dict:
    import __spark_entry__ as entry

    import batch
    import datagen

    sf_dir = os.path.join(work, "tables")
    staging_s = _median_time(
        lambda: datagen.write_tables(sf_dir, SF[workload], args.seed), STAGING_REPEATS
    )
    run = batch.BatchRun(spark, entry, workload, sf_dir, tracer)
    t0 = time.perf_counter()
    run.check_pass()
    warm_s = time.perf_counter() - t0
    run.run(args.seconds, bool(args.trace))
    notes = {"passes": [round(x, 3) for x in run.pass_s],
             "traced_passes": [round(x, 3) for x in run.traced_pass_s],
             "per_query": run.per_query,
             "wrong": run.wrong, "rounding_ties": run.rounding_ties}
    return {
        "staging_s": staging_s,
        "warm_s": warm_s,
        "attempted": run.attempted,
        "failed": run.failed,
        "correct": not run.wrong,
        "end_to_end": run.end_to_end() if not args.trace else {},
        "per_layer": run.per_layer() if args.trace else {},
        "notes": notes,
    }


def run_stream(spark, work: str, args, tracer) -> dict:
    import stream

    run = stream.StreamRun(spark, work, args.seed, args.seconds, tracer)
    t0 = time.perf_counter()
    files = run.render()
    render_s = time.perf_counter() - t0
    staging_s = render_s + _median_time(lambda: run.stage(files), STAGING_REPEATS)
    t0 = time.perf_counter()
    run.start()
    warm_s = time.perf_counter() - t0
    run.run(bool(args.trace))
    run.check_table()
    batches = len(run.progress())
    # the race probe's reads are reported in the notes, not counted here
    attempted = batches + run.reads.calls + 1
    failed = run.reads.failed + (1 if run.mismatch else 0)
    if run.query.exception() is not None:
        failed += 1
    return {
        "staging_s": staging_s,
        "warm_s": warm_s,
        "attempted": attempted,
        "failed": failed,
        "correct": run.mismatch is None and run.query.exception() is None,
        "end_to_end": run.end_to_end() if not args.trace else {},
        "per_layer": run.per_layer() if args.trace else {},
        "notes": {
            "live_files": run.n_live,
            "bursts_s": [round(x, 3) for x in run.burst_drains()],
            "read_errors": run.reads.errors,
            "race_probe": {"reads": run.race_reads.calls, "failed": run.race_reads.failed,
                           "errors": run.race_reads.errors},
            "table_mismatch": run.mismatch,
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test; without it there is nothing to measure
    import __spark_entry__  # noqa: F401
    import data_pipeline_zeal_spark  # noqa: F401

    import tracing as tr

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(HERE, ".work", f"{args.workload}-{run_id}")
    _isolate(work)
    tracer = tr.Tracer(bool(args.trace), run_id)
    # memory is sampled in traced runs only, off the end-to-end clock
    rss = tr.PeakRss()
    spark = None
    try:
        with rss if args.trace else contextlib.nullcontext():
            t0 = time.perf_counter()
            spark = _start_spark(work)
            session_s = time.perf_counter() - t0
            if args.workload == "stream_ingest":
                res = run_stream(spark, work, args, tracer)
            else:
                res = run_batch(spark, args.workload, work, args, tracer)
            if args.trace:
                rss.sample()
        _stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    tracer.write(os.path.join(HERE, "traces", f"{args.workload}-{run_id}.jsonl"))

    if args.trace:
        units = per_layer_units()
        values = {k: float(res["per_layer"].get(k, 0.0)) for k in units}
        values["mem.peak_rss_mb"] = rss.peak / 2**20
    else:
        units = END_TO_END
        values = dict(res["end_to_end"])
        values["setup_s"] = session_s + res["staging_s"] + res["warm_s"]
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    ratio = res["failed"] / res["attempted"]
    print(f"# workload={args.workload} seed={args.seed} master=local[{NPROC}] "
          f"session_s={session_s:.3f} staging_s={res['staging_s']:.3f} "
          f"warm_s={res['warm_s']:.3f} notes={json.dumps(res['notes'])}")
    print(f"# attempted={res['attempted']} failed={res['failed']} "
          f"failed_ratio={ratio:.4f} correct={res['correct']}")
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
