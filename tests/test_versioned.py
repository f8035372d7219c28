"""Commit-log table format: atomicity, time travel, idempotent retries,
crash-orphan invisibility, optimistic-concurrency races, vacuum scope.
"""

from __future__ import annotations

import json
import os

from data_pipeline_zeal_spark.sources import versioned as V


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v1 = V.commit_write(_df(spark, 0, 10), t, mode="overwrite")
    v2 = V.commit_write(_df(spark, 10, 15), t, mode="append")
    v3 = V.commit_write(_df(spark, 100, 102), t, mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert V.read_version(spark, t, 1).count() == 10
    assert V.read_version(spark, t, 2).count() == 15
    assert V.read_version(spark, t, 3).count() == 2
    assert V.read_version(spark, t).count() == 2  # latest
    # old versions still read after later overwrites (immutable files)
    assert sorted(r.id for r in V.read_version(spark, t, 2).collect())[:3] == [0, 1, 2]


def test_idempotent_txn_retry_does_not_double_append(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")
    a = V.commit_write(_df(spark, 5, 8), t, mode="append", txn="job-42")
    b = V.commit_write(_df(spark, 5, 8), t, mode="append", txn="job-42")
    assert a == b  # second call is a no-op returning the same version
    assert V.read_version(spark, t).count() == 8


def test_crashed_write_is_invisible_and_vacuumed(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")
    # simulate a crash BEFORE commit: data staged, no log entry
    orphan = os.path.join(t, "data", "vdeadbeef0000")
    _df(spark, 90, 95).write.parquet(orphan)
    assert V.read_version(spark, t).count() == 5  # reader never sees it
    # retention guard: a YOUNG unreferenced dir may belong to a live
    # writer between data write and log commit — vacuum must keep it
    assert V.vacuum(t) == []
    assert os.path.exists(orphan)
    removed = V.vacuum(t, retention_seconds=0)
    assert removed == [orphan]
    assert not os.path.exists(orphan)
    # vacuum keeps every dir any committed version references
    assert V.read_version(spark, t, 1).count() == 5


def test_commit_entry_is_never_torn(spark, tmp_path):
    """The published log entry must be complete at the instant it appears
    (staged + hard-linked): every committed entry parses, and no .tmp
    staging files survive a successful commit."""
    import json

    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 3), t, mode="overwrite")
    V.commit_write(_df(spark, 3, 5), t, mode="append")
    log = os.path.join(t, "_log")
    names = sorted(os.listdir(log))
    assert names == [V._entry_name(1), V._entry_name(2)]  # no .tmp leftovers
    for n in names:
        entry = json.load(open(os.path.join(log, n)))
        assert entry["action"] in ("append", "overwrite") and entry["dirs"]


def test_txn_recheck_after_lost_race(spark, tmp_path, monkeypatch):
    """A writer that loses the version race to a commit carrying the SAME
    txn id must return that version instead of double-appending."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")

    real_link = os.link
    committed = {}

    def racing_link(src, dst):
        # first publish attempt: another retry of the SAME txn wins the
        # slot just before us (guard keeps the nested commit unpatched)
        if "v" not in committed:
            committed["v"] = None
            committed["v"] = V.commit_write(
                _df(spark, 5, 8), t, mode="append", txn="job-7"
            )
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    v = V.commit_write(_df(spark, 5, 8), t, mode="append", txn="job-7")
    monkeypatch.undo()
    assert v == committed["v"]  # adopted the winner, no second commit
    assert V.read_version(spark, t).count() == 8


def test_version_race_retries_to_next_number(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")
    # another writer grabs version 2 out from under us
    with open(os.path.join(t, "_log", V._entry_name(2)), "w") as f:
        json.dump({"action": "append", "dirs": []}, f)
    v = V.commit_write(_df(spark, 5, 7), t, mode="append")
    assert v == 3
    assert V.read_version(spark, t).count() == 7


def test_read_errors(spark, tmp_path):
    import pytest

    t = str(tmp_path / "tbl")
    with pytest.raises(FileNotFoundError):
        V.live_dirs(t)
    V.commit_write(_df(spark, 0, 3), t, mode="overwrite")
    with pytest.raises(ValueError):
        V.live_dirs(t, version=9)


def test_merge_upsert_is_atomic_merge_into(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k long, ver long, payload string"
    )
    V.commit_write(base, t, mode="overwrite")
    updates = spark.createDataFrame(
        [(2, 20, "b2"), (3, 5, "c")], "k long, ver long, payload string"
    )
    v = V.merge_upsert(spark, t, updates, keys=["k"], order_col="ver")
    assert v == 2
    got = {r.k: (r.ver, r.payload) for r in V.read_version(spark, t).collect()}
    assert got == {1: (10, "a"), 2: (20, "b2"), 3: (5, "c")}
    # pre-merge snapshot still readable (time travel across MERGE)
    assert V.read_version(spark, t, 1).count() == 2
    # bootstrap: merge into an empty table inserts everything
    t2 = str(tmp_path / "tbl2")
    V.merge_upsert(spark, t2, updates, keys=["k"], order_col="ver")
    assert V.read_version(spark, t2).count() == 2


def test_versioned_sink_exactly_once_replay(spark, tmp_path):
    """Replaying a micro-batch (Structured Streaming's crash contract)
    must not double-append: txn = query-batch_id dedups."""
    t = str(tmp_path / "tbl")
    sink = V.versioned_sink(t, query_name="q1")
    b0 = _df(spark, 0, 5)
    b1 = _df(spark, 5, 8)
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # replay after crash-before-checkpoint
    assert V.read_version(spark, t).count() == 8
    assert len(V.live_dirs(t)) == 2  # two commits, not three


def test_versioned_sink_end_to_end_stream(spark, tmp_path):
    """availableNow drain through the versioned sink: committed rows equal
    the input exactly (exactly-once through a real streaming query)."""
    src = str(tmp_path / "in")
    _df(spark, 0, 20).coalesce(1).write.parquet(src)
    t = str(tmp_path / "tbl")
    q = (
        spark.readStream.schema("id long, v long")
        .parquet(src)
        .writeStream.foreachBatch(V.versioned_sink(t, "drain"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r.id for r in V.read_version(spark, t).collect())
    assert got == list(range(20))


def test_schema_evolution_read(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 3), t, mode="overwrite")
    evolved = spark.range(3, 5).selectExpr("id", "id * 2 AS v", "'x' AS tag")
    V.commit_write(evolved, t, mode="append")
    got = V.read_version(spark, t, merge_schema=True)
    assert set(got.columns) == {"id", "v", "tag"}
    by_id = {r.id: r.tag for r in got.collect()}
    assert by_id[0] is None and by_id[4] == "x"


def test_change_feed_between_versions(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        t,
        mode="overwrite",
    )
    V.commit_write(
        spark.createDataFrame([(2, "b2"), (3, "c")], "k long, s string"),
        t,
        mode="overwrite",
    )
    feed = {r.k: r.change for r in V.change_feed(spark, t, 1, 2, ["k"]).collect()}
    assert feed == {1: "delete", 2: "update", 3: "insert"}


def test_compact_preserves_state_and_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    for lo in range(0, 12, 3):  # four small appends -> four data dirs
        V.commit_write(_df(spark, lo, lo + 3), t, mode="append")
    assert len(V.live_dirs(t)) == 4
    v = V.compact(spark, t)
    assert v == 5
    assert len(V.live_dirs(t)) == 1  # one rewritten dir
    assert sorted(r.id for r in V.read_version(spark, t).collect()) == list(range(12))
    # history before the compaction still reads
    assert V.read_version(spark, t, 2).count() == 6
    # vacuum removes nothing: every dir is referenced by some version
    assert V.vacuum(t) == []


def test_table_stats_metadata_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 10), t, mode="overwrite")
    V.commit_write(_df(spark, 10, 13), t, mode="append")
    V.commit_write(_df(spark, 0, 2), t, mode="overwrite")
    stats = V.table_stats(t)
    assert [(s["version"], s["action"], s["commit_rows"], s["snapshot_rows"])
            for s in stats] == [
        (1, "overwrite", 10, 10),
        (2, "append", 3, 13),
        (3, "overwrite", 2, 2),
    ]
    # the log-derived counts agree with actual snapshot reads
    for s in stats:
        assert V.read_version(spark, t, s["version"]).count() == s["snapshot_rows"]
    # a pre-stats commit (no n_rows recorded) degrades to None, not a guess
    import json, os
    path = os.path.join(t, "_log", V._entry_name(2))
    entry = json.load(open(path))
    del entry["n_rows"]
    json.dump(entry, open(path, "w"))
    stats = V.table_stats(t)
    assert stats[1]["commit_rows"] is None and stats[1]["snapshot_rows"] is None
    assert stats[2]["snapshot_rows"] == 2  # overwrite resets the poison


def test_txn_recheck_before_fresh_slot_link(spark, tmp_path, monkeypatch):
    """The zombie-orchestrator race (round-6 advice, medium): a concurrent
    retry of the SAME txn commits while this writer is still staging data
    — at an EARLIER version, so no link collision ever happens.  The
    pre-link idempotence re-check must adopt that commit instead of
    linking a fresh slot and double-appending."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")

    orig = V._list_versions
    state = {"calls": 0, "inner": None}

    def hooked(table_):
        state["calls"] += 1
        # call 1: the snapshot-basis capture; call 2: the pre-staging
        # idempotence check (txn absent).
        # call 3: the publish loop's version listing — by now our data is
        # staged; fire the concurrent same-txn retry to completion first.
        if state["calls"] == 3:
            state["inner"] = V.commit_write(
                _df(spark, 5, 8), t, mode="append", txn="job-9"
            )
        return orig(table_)

    monkeypatch.setattr(V, "_list_versions", hooked)
    v = V.commit_write(_df(spark, 5, 8), t, mode="append", txn="job-9")
    monkeypatch.undo()
    assert state["inner"] == 2
    assert v == 2  # adopted, not double-appended at version 3
    assert V._list_versions(t) == [1, 2]
    assert V.read_version(spark, t).count() == 8


def test_commit_stats_recorded_and_pruning(spark, tmp_path):
    """Each commit records per-column min/max; pruned_dirs skips exactly
    the directories whose range provably cannot match."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 10), t, mode="overwrite")     # id 0..9
    V.commit_write(_df(spark, 100, 110), t, mode="append")     # id 100..109
    V.commit_write(_df(spark, 200, 210), t, mode="append")     # id 200..209
    entry = V._read_entry(t, 2)
    assert entry["stats"]["id"] == [100, 109]
    assert entry["stats"]["v"] == [200, 218]
    kept, skipped = V.pruned_dirs(t, [("id", ">=", 150)])
    assert len(kept) == 1 and len(skipped) == 2
    kept, skipped = V.pruned_dirs(t, [("id", "=", 105)])
    assert len(kept) == 1 and len(skipped) == 2
    kept, skipped = V.pruned_dirs(t, [("id", "<", 5), ("v", "<=", 4)])
    assert len(kept) == 1 and len(skipped) == 2
    # unsatisfiable conjunction: everything pruned
    kept, skipped = V.pruned_dirs(t, [("id", ">", 300)])
    assert kept == [] and len(skipped) == 3
    # time travel + pruning compose
    kept, skipped = V.pruned_dirs(t, [("id", ">=", 150)], version=2)
    assert kept == [] and len(skipped) == 2


def test_read_where_opens_only_matching_dirs(spark, tmp_path):
    """The filtered read must (a) return exactly the rows a full-scan
    filter returns and (b) list only the surviving directories in its
    scan — same style as the z-order skip test."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 10), t, mode="overwrite")
    V.commit_write(_df(spark, 100, 110), t, mode="append")
    V.commit_write(_df(spark, 200, 210), t, mode="append")
    df = V.read_where(spark, t, [("id", ">=", 200)])
    assert sorted(r.id for r in df.collect()) == list(range(200, 210))
    # the scan's input files live only in the one kept directory
    files = df.inputFiles()
    kept, _ = V.pruned_dirs(t, [("id", ">=", 200)])
    assert files and all(any(f.find(k.split("/")[-1]) >= 0 for k in kept) for f in files)
    # pruning is conservative, never lossy: boundary predicate keeps all
    assert V.read_where(spark, t, [("id", ">=", 0)]).count() == 30
    # provably-empty fast path still carries the schema
    empty = V.read_where(spark, t, [("id", ">", 10_000)])
    assert empty.count() == 0 and empty.columns == ["id", "v"]


def test_pre_stats_commit_never_pruned(spark, tmp_path):
    """Commits written before stats existed (no 'stats' key) must always
    be kept — pruning degrades to a plain filtered scan, never drops."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 10), t, mode="overwrite")
    path = os.path.join(t, "_log", V._entry_name(1))
    entry = json.load(open(path))
    del entry["stats"]
    json.dump(entry, open(path, "w"))
    kept, skipped = V.pruned_dirs(t, [("id", ">", 10_000)])
    assert len(kept) == 1 and skipped == []
    assert V.read_where(spark, t, [("id", "<", 3)]).count() == 3


def test_stats_date_and_string_columns(spark, tmp_path):
    """Date bounds serialize as ISO strings (lexicographic ==
    chronological) and prune string-typed predicates correctly."""
    t = str(tmp_path / "tbl")
    a = spark.sql("SELECT id, DATE'1995-01-01' + make_interval(0,0,0,CAST(id AS INT)) AS d, "
                  "concat('k', lpad(CAST(id AS STRING), 3, '0')) AS s FROM range(0, 5)")
    b = spark.sql("SELECT id, DATE'1997-06-01' + make_interval(0,0,0,CAST(id AS INT)) AS d, "
                  "concat('m', lpad(CAST(id AS STRING), 3, '0')) AS s FROM range(5, 9)")
    V.commit_write(a, t, mode="overwrite")
    V.commit_write(b, t, mode="append")
    e1, e2 = V._read_entry(t, 1), V._read_entry(t, 2)
    assert e1["stats"]["d"] == ["1995-01-01", "1995-01-05"]
    assert e2["stats"]["s"] == ["m005", "m008"]
    kept, skipped = V.pruned_dirs(t, [("d", ">=", "1997-01-01")])
    assert len(kept) == 1 and len(skipped) == 1
    assert V.read_where(spark, t, [("d", ">=", "1997-01-01")]).count() == 4
    kept, skipped = V.pruned_dirs(t, [("s", "<", "k999")])
    assert len(kept) == 1 and len(skipped) == 1


def test_per_file_stats_and_file_level_pruning(spark, tmp_path):
    """A single commit whose files carry disjoint ranges (clustered
    write) must prune at FILE granularity: the predicate read opens only
    the files whose own bounds can match, not every file of the kept
    commit."""
    t = str(tmp_path / "tbl")
    # 4 files, range-partitioned on id -> disjoint per-file id ranges
    df = (
        _df(spark, 0, 400)
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    V.commit_write(df, t, mode="overwrite")
    entry = V._read_entry(t, 1)
    assert len(entry["file_stats"]) == 4
    spans = sorted(b["id"] for b in entry["file_stats"].values())
    assert spans[0][0] == 0 and spans[-1][1] == 399
    # dir-level bounds are the rollup of the file bounds
    assert entry["stats"]["id"] == [0, 399]
    paths, n_kept, n_skipped = V.pruned_paths(t, [("id", ">=", 350)])
    assert n_kept == 1 and n_skipped == 3
    assert all(p.endswith(".parquet") for p in paths)
    got = V.read_where(spark, t, [("id", ">=", 350)])
    assert sorted(r.id for r in got.collect()) == list(range(350, 400))
    # the scan's input files are exactly the kept paths
    assert sorted(got.inputFiles())[0].endswith(paths[0].split("/")[-1])


def test_compact_cluster_by_tightens_skipping(spark, tmp_path):
    """OPTIMIZE with clustering: after interleaved appends (every file
    spans the full id range — nothing file-prunable), compacting with
    cluster_by must yield per-file disjoint bounds so the same predicate
    suddenly skips most files."""
    t = str(tmp_path / "tbl")

    # Two appends (evens, then odds) of four files each, laid out by
    # construction rather than by a shuffle: range slice p holds rows
    # i = 50p + j (j < 50) and maps them to id = 2(4j + p) + parity, so
    # file p's id bounds are [2p + parity, 392 + 2p + parity] -> every
    # file spans the range and its bounds are useless, at any core count.
    def spanning(parity):
        return spark.range(0, 200, 1, 4).selectExpr(
            f"2 * (4 * (id % 50) + id div 50) + {parity} AS id"
        ).selectExpr("id", "id * 2 AS v")

    V.commit_write(spanning(0), t, mode="overwrite")
    V.commit_write(spanning(1), t, mode="append")
    pred = [("id", ">=", 390)]
    _, kept_before, _ = V.pruned_paths(t, pred)
    assert kept_before == 8  # every file spans the range: nothing skips
    v = V.compact(spark, t, cluster_by=["id"], num_files=8)
    paths, kept_after, skipped_after = V.pruned_paths(t, pred, version=v)
    assert kept_after == 1 and skipped_after == 7
    assert sorted(
        r.id for r in V.read_where(spark, t, pred).collect()
    ) == list(range(390, 400))
    # history before the compaction still reads in full
    assert V.read_version(spark, t, 2).count() == 400


def test_compact_zorder_multi_predicate_skipping(spark, tmp_path):
    """Z-order compaction bounds BOTH cluster columns per file, so a
    predicate on the second column alone still skips files (a plain
    lexicographic sort only bounds the leading column tightly)."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 1024).selectExpr(
        "id", "id % 32 AS x", "CAST(id / 32 AS BIGINT) AS y"
    )
    V.commit_write(df, t, mode="overwrite")
    v = V.compact(spark, t, cluster_by=["x", "y"], zorder=True, num_files=16)
    _, kept_x, skip_x = V.pruned_paths(t, [("x", ">=", 30)], version=v)
    _, kept_y, skip_y = V.pruned_paths(t, [("y", ">=", 30)], version=v)
    assert skip_x > 0 and skip_y > 0, (kept_x, skip_x, kept_y, skip_y)
    got = V.read_where(spark, t, [("x", ">=", 30), ("y", ">=", 30)])
    want = df.filter("x >= 30 AND y >= 30").count()
    assert got.count() == want


def test_read_where_pushes_predicates_to_scan(spark, tmp_path):
    """Directory/file pruning composes with parquet row-group pruning:
    the residual filter must reach the scan as a pushed data filter, not
    evaluate post-scan only."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 100), t, mode="overwrite")
    df = V.read_where(spark, t, [("id", ">=", 50)])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "GreaterThanOrEqual(id,50" in plan


def test_between_and_in_predicates(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 10), t, mode="overwrite")
    V.commit_write(_df(spark, 100, 110), t, mode="append")
    V.commit_write(_df(spark, 200, 210), t, mode="append")
    kept, skipped = V.pruned_dirs(t, [("id", "between", (101, 105))])
    assert len(kept) == 1 and len(skipped) == 2
    got = V.read_where(spark, t, [("id", "between", (101, 105))])
    assert sorted(r.id for r in got.collect()) == [101, 102, 103, 104, 105]
    kept, skipped = V.pruned_dirs(t, [("id", "in", [5, 205])])
    assert len(kept) == 2 and len(skipped) == 1
    got = V.read_where(spark, t, [("id", "in", [5, 205])])
    assert sorted(r.id for r in got.collect()) == [5, 205]
    # straddling boundary: conservative keep on both touched dirs
    kept, _ = V.pruned_dirs(t, [("id", "between", (9, 100))])
    assert len(kept) == 2


def test_history_metadata_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 10), t, mode="overwrite", txn="boot")
    V.commit_write(_df(spark, 10, 13), t, mode="append")
    h = V.history(t)
    assert [(e["version"], e["action"], e["txn"], e["n_rows"]) for e in h] == [
        (1, "overwrite", "boot", 10),
        (2, "append", None, 3),
    ]
    assert all(e["n_files"] >= 1 and e["committed_at"] > 0 for e in h)


def test_read_changes_since_append_only(spark, tmp_path):
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 10), t, mode="overwrite")
    V.commit_write(_df(spark, 10, 15), t, mode="append")
    V.commit_write(_df(spark, 15, 18), t, mode="append")
    got = V.read_changes_since(spark, t, after_version=1)
    assert sorted(r.id for r in got.collect()) == list(range(10, 18))
    got = V.read_changes_since(spark, t, after_version=1, to_version=2)
    assert sorted(r.id for r in got.collect()) == list(range(10, 15))
    assert V.read_changes_since(spark, t, after_version=3).count() == 0
    # a rewrite in the range breaks append-only semantics: loud error
    V.compact(spark, t)
    import pytest

    with pytest.raises(ValueError, match="not append-only"):
        V.read_changes_since(spark, t, after_version=1)
    # ranges entirely after the rewrite still work
    V.commit_write(_df(spark, 18, 20), t, mode="append")
    got = V.read_changes_since(spark, t, after_version=4)
    assert sorted(r.id for r in got.collect()) == [18, 19]


def test_cross_txn_overwrite_loses_to_intervening_append(spark, tmp_path):
    """Round-7 directive #4: two DIFFERENT transactions interleaving.  An
    overwrite whose snapshot basis predates a concurrent append must
    conflict — publishing it would silently drop the appended rows."""
    import pytest

    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")          # v1
    # writer A reads at v1, starts staging its overwrite...
    # ...writer B's append lands first:
    V.commit_write(_df(spark, 5, 8), t, mode="append")             # v2
    with pytest.raises(V.ConcurrentWriteConflict):
        V.commit_write(_df(spark, 100, 105), t, mode="overwrite",
                       read_version=1)
    # loser's staged files stay invisible; table state is B's
    assert V._list_versions(t) == [1, 2]
    assert V.read_version(spark, t).count() == 8


def test_cross_txn_append_loses_to_intervening_overwrite(spark, tmp_path):
    """An append derived against a snapshot that a concurrent overwrite
    has since replaced must conflict, not resurrect rows into the new
    state."""
    import pytest

    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")          # v1
    V.commit_write(_df(spark, 50, 52), t, mode="overwrite")        # v2
    with pytest.raises(V.ConcurrentWriteConflict):
        V.commit_write(_df(spark, 5, 8), t, mode="append", read_version=1)
    assert V._list_versions(t) == [1, 2]
    assert V.read_version(spark, t).count() == 2


def test_cross_txn_append_append_rebases_cleanly(spark, tmp_path):
    """append+append commutes: the stale-basis appender retries onto the
    next version instead of conflicting, and both writers' rows land."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")          # v1
    V.commit_write(_df(spark, 5, 8), t, mode="append")             # v2 (B)
    v = V.commit_write(_df(spark, 8, 10), t, mode="append", read_version=1)
    assert v == 3
    assert V.read_version(spark, t).count() == 10


def test_merge_upsert_conflicts_with_concurrent_commit(spark, tmp_path, monkeypatch):
    """MERGE captures its basis BEFORE reading the base snapshot; any
    commit landing between that read and the publish raises instead of
    being dropped by the merged overwrite."""
    import pytest

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k long, ver long, payload string"
    )
    V.commit_write(base, t, mode="overwrite")                      # v1

    real_read = V.read_version
    fired = {}

    def racing_read(spark_, table_, version=None, merge_schema=False):
        # the moment MERGE reads its base, a concurrent appender commits
        if "v" not in fired:
            fired["v"] = V.commit_write(
                spark.createDataFrame([(9, 1, "z")],
                                      "k long, ver long, payload string"),
                t, mode="append",
            )
        return real_read(spark_, table_, version, merge_schema)

    monkeypatch.setattr(V, "read_version", racing_read)
    updates = spark.createDataFrame(
        [(2, 20, "b2")], "k long, ver long, payload string"
    )
    with pytest.raises(V.ConcurrentWriteConflict):
        V.merge_upsert(spark, t, updates, keys=["k"], order_col="ver")
    monkeypatch.undo()
    assert fired["v"] == 2
    # the concurrent append survives untouched
    got = {r.k for r in V.read_version(spark, t).collect()}
    assert got == {1, 2, 9}


def test_same_txn_retry_still_adopts_not_conflicts(spark, tmp_path):
    """The idempotence re-check outranks conflict checking: a same-txn
    retry with a stale basis adopts its winner instead of raising."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")          # v1
    V.commit_write(_df(spark, 5, 8), t, mode="overwrite", txn="j1")  # v2
    # zombie retry of j1, basis captured before the winner committed
    v = V.commit_write(_df(spark, 5, 8), t, mode="overwrite", txn="j1",
                       read_version=1)
    assert v == 2
    assert V._list_versions(t) == [1, 2]


def test_delete_where_cow_rewrites_only_may_match_files(spark):
    """Copy-on-write DELETE: files whose stats prove no match are
    hard-linked (zero bytes copied), only may-match files rewrite;
    content equals a plain anti-filter; linked files keep prunable
    stats; time travel still sees pre-delete rows."""
    import tempfile, shutil
    from pyspark.sql import functions as F
    from data_pipeline_zeal_spark.io import load_table
    from data_pipeline_zeal_spark.sources import versioned as V

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    c1 = F.lit("1997-01-01 00:00:00").cast("timestamp")
    c2 = F.lit("1999-01-01 00:00:00").cast("timestamp")
    t = tempfile.mkdtemp(prefix="del_cow_")
    try:
        V.commit_write(o.filter(F.col("o_orderdate") < c1).coalesce(1), t, mode="overwrite")
        V.commit_write(
            o.filter((F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2)).coalesce(1),
            t, mode="append",
        )
        V.commit_write(o.filter(F.col("o_orderdate") >= c2).coalesce(1), t, mode="append")
        before = V.read_version(spark, t).count()

        rep = V.delete_where(spark, t, [("o_orderdate", ">=", "1999-01-01 00:00:00")])
        assert rep["files_rewritten"] == 1 and rep["files_linked"] == 2
        want = o.filter(F.col("o_orderdate") < c2)
        assert rep["rows_deleted"] == before - want.count()
        got = V.read_version(spark, t).orderBy("o_orderkey").collect()
        assert got == want.orderBy("o_orderkey").collect()
        # linked files carried their stats: later predicate reads still prune
        _, kept, skipped = V.pruned_paths(t, [("o_orderdate", "<", "1997-01-01 00:00:00")])
        assert kept == 1 and skipped >= 1
        # time travel to the pre-delete version is intact
        assert V.read_version(spark, t, 3).count() == before
    finally:
        shutil.rmtree(t, ignore_errors=True)


def test_delete_where_noop_and_null_semantics(spark):
    """A provably-empty delete publishes NO commit; rows where the
    predicate evaluates NULL are kept (DELETE removes only TRUE)."""
    import tempfile, shutil
    from data_pipeline_zeal_spark.sources import versioned as V

    t = tempfile.mkdtemp(prefix="del_noop_")
    try:
        df = spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 3.0)], "id long, v double"
        )
        V.commit_write(df, t, mode="overwrite")
        # out-of-range literal -> every file pruned -> no-op, same version
        rep = V.delete_where(spark, t, [("id", ">", 100)])
        assert rep == {
            "version": 1, "rows_deleted": 0,
            "files_rewritten": 0, "files_linked": 0,
        }
        assert [h["version"] for h in V.history(t)] == [1]
        # NULL predicate value: row 2 (v IS NULL) must survive v > 5.0
        rep = V.delete_where(spark, t, [("v", ">", 5.0)])
        assert rep["rows_deleted"] == 1
        ids = sorted(r.id for r in V.read_version(spark, t).collect())
        assert ids == [2, 3]
    finally:
        shutil.rmtree(t, ignore_errors=True)


def test_delete_where_txn_idempotent_and_conflicts(spark):
    """Same-txn retry returns the committed version without a second
    rewrite; a delete publishing against a snapshot that gained an
    intervening commit raises the overwrite conflict (delete is
    read-modify-write — losing it silently would resurrect rows)."""
    import tempfile, shutil
    import pytest
    from data_pipeline_zeal_spark.sources import versioned as V

    t = tempfile.mkdtemp(prefix="del_txn_")
    try:
        df = spark.range(100).selectExpr("id", "id * 2 AS v")
        V.commit_write(df, t, mode="overwrite")
        rep1 = V.delete_where(spark, t, [("id", "<", 10)], txn="del-1")
        rep2 = V.delete_where(spark, t, [("id", "<", 10)], txn="del-1")
        assert rep2["version"] == rep1["version"]
        assert rep2["rows_deleted"] is None  # replay: not re-derived
        assert V.read_version(spark, t).count() == 90

        # stale-basis conflict: an append lands between the delete's
        # snapshot read and its publish -> ConcurrentWriteConflict.
        # Stage the race by pausing delete's publish via the entry hook.
        orig_publish = V._publish_entry
        raced = {"done": False}

        def racing_publish(table, entry, txn, max_retries=20, read_version=None):
            if table == t and not raced["done"]:
                raced["done"] = True
                V.commit_write(
                    spark.range(5).selectExpr("id + 1000 AS id", "id AS v"),
                    t,
                    mode="append",
                )
            return orig_publish(
                table, entry, txn, max_retries, read_version=read_version
            )

        V._publish_entry = racing_publish
        try:
            with pytest.raises(V.ConcurrentWriteConflict):
                V.delete_where(spark, t, [("id", ">=", 50)])
        finally:
            V._publish_entry = orig_publish
        # the losing delete left no commit; the appended rows are intact
        assert V.read_version(spark, t).count() == 95
        # retry on the fresh snapshot succeeds
        rep3 = V.delete_where(spark, t, [("id", ">=", 1000)])
        assert rep3["rows_deleted"] == 5
        assert V.read_version(spark, t).count() == 90
    finally:
        shutil.rmtree(t, ignore_errors=True)


def test_update_where_cow_semantics(spark):
    """Copy-on-write UPDATE: matching rows take the SET expressions,
    non-matching (and predicate-NULL) rows pass through unchanged;
    untouched files hard-link; delete and update share the COW kernel
    so the same no-op/idempotence contracts hold."""
    import tempfile, shutil
    from pyspark.sql import functions as F
    from data_pipeline_zeal_spark.sources import versioned as V

    t = tempfile.mkdtemp(prefix="upd_cow_")
    try:
        # two commits with disjoint id ranges -> one links, one rewrites
        V.commit_write(
            spark.createDataFrame(
                [(1, 10.0, "a"), (2, None, "b")], "id long, v double, s string"
            ).coalesce(1),
            t, mode="overwrite",
        )
        V.commit_write(
            spark.createDataFrame(
                [(100, 5.0, "c"), (101, 50.0, "d")], "id long, v double, s string"
            ).coalesce(1),
            t, mode="append",
        )
        rep = V.update_where(
            spark, t, [("id", ">=", 100)], {"v": "v * 2", "s": "'bumped'"}
        )
        assert rep["files_rewritten"] == 1 and rep["files_linked"] == 1
        assert rep["rows_updated"] == 2
        rows = {r.id: r for r in V.read_version(spark, t).collect()}
        assert rows[100].v == 10.0 and rows[100].s == "bumped"
        assert rows[101].v == 100.0 and rows[101].s == "bumped"
        assert rows[1].v == 10.0 and rows[1].s == "a"  # untouched, linked
        assert rows[2].v is None and rows[2].s == "b"

        # predicate-NULL rows pass through even in a rewritten file
        rep = V.update_where(spark, t, [("v", ">", 5.0)], {"s": "'big'"})
        rows = {r.id: r for r in V.read_version(spark, t).collect()}
        assert rows[2].s == "b"  # v IS NULL -> not matched
        assert rows[1].s == "big" and rows[100].s == "big"

        # no-op: out-of-range predicate publishes nothing
        before = [h["version"] for h in V.history(t)]
        rep = V.update_where(spark, t, [("id", ">", 10_000)], {"s": "'x'"})
        assert rep["rows_updated"] == 0 and rep["files_rewritten"] == 0
        assert [h["version"] for h in V.history(t)] == before

        # unknown SET column fails loudly before any write
        import pytest
        with pytest.raises(ValueError):
            V.update_where(spark, t, [("id", "=", 1)], {"nope": "1"})
    finally:
        shutil.rmtree(t, ignore_errors=True)


def test_dml_on_empty_table_is_noop(spark, tmp_path):
    """DELETE/UPDATE on a table with zero commits is a well-defined no-op
    (nothing to touch), not an incidental FileNotFoundError from the
    stats replay (round-8 advice)."""
    t = str(tmp_path / "tbl")
    os.makedirs(t, exist_ok=True)
    rep = V.delete_where(spark, t, [("id", ">", 0)])
    assert rep["version"] is None and rep["rows_deleted"] == 0
    assert rep["files_rewritten"] == 0 and rep["files_linked"] == 0
    rep = V.update_where(spark, t, [("id", ">", 0)], {"v": "v + 1"})
    assert rep["version"] is None and rep["rows_updated"] == 0
    assert V._list_versions(t) == []  # no commit published


def test_vacuum_expiry_floor_and_read_guard(spark, tmp_path):
    """Snapshot-isolation contract between vacuum and time travel
    (round-8 verdict #7), staged like the conflict-rules tests:

    v1 overwrite / v2 append / v3 overwrite / v4 append.  Expiring below
    v3 must (a) persist the floor BEFORE deletion, (b) remove exactly the
    dirs unreachable from every retained snapshot (v1+v2's files, which
    v3's overwrite superseded), (c) keep v3/v4 byte-complete, and (d)
    turn every read at v1/v2 into a LOUD VersionExpiredError — including
    the stats-pruned read path — rather than a missing-parquet error."""
    import pytest

    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 10), t, mode="overwrite")     # v1
    V.commit_write(_df(spark, 10, 15), t, mode="append")       # v2
    V.commit_write(_df(spark, 100, 110), t, mode="overwrite")  # v3
    V.commit_write(_df(spark, 110, 112), t, mode="append")     # v4

    # pre-expiry: everything readable
    assert V.read_version(spark, t, 2).count() == 15

    removed = V.vacuum(t, retention_seconds=0, min_retained_version=3)
    # exactly the dirs only v1/v2 reached are gone
    assert removed, "expiry should reclaim the superseded v1/v2 dirs"
    for p in removed:
        assert not os.path.exists(p)

    # retained snapshots byte-complete
    assert V.read_version(spark, t, 3).count() == 10
    assert V.read_version(spark, t, 4).count() == 12
    assert V.read_version(spark, t).count() == 12

    # loud guard on every expired-read path
    for v in (1, 2):
        with pytest.raises(V.VersionExpiredError, match="min_retained_version=3"):
            V.read_version(spark, t, v)
    with pytest.raises(V.VersionExpiredError):
        V.read_where(spark, t, [("id", ">", 0)], version=2)
    with pytest.raises(V.VersionExpiredError):
        V.change_feed(spark, t, 1, 4, keys=["id"])
    with pytest.raises(V.VersionExpiredError):
        V.read_changes_since(spark, t, 0, to_version=2)

    # floor is monotonic: a lower request never un-expires
    V.vacuum(t, retention_seconds=0, min_retained_version=1)
    with pytest.raises(V.VersionExpiredError):
        V.read_version(spark, t, 2)

    # refusing to expire the current snapshot
    with pytest.raises(ValueError, match="refusing"):
        V.vacuum(t, retention_seconds=0, min_retained_version=99)


def test_vacuum_floor_rejected_on_empty_table(spark, tmp_path):
    """A floor on a zero-commit table would pre-expire versions 1..N-1 of
    whatever gets committed later (round-9 advice): refuse, leave no
    floor behind, and keep the table fully usable afterwards."""
    import pytest

    t = str(tmp_path / "tbl")
    with pytest.raises(ValueError, match="no commits"):
        V.vacuum(t, retention_seconds=0, min_retained_version=3)
    # ...and the refused call must not have persisted any floor
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")   # v1
    V.commit_write(_df(spark, 5, 8), t, mode="append")      # v2
    assert V.read_version(spark, t, 1).count() == 5
    assert V.read_version(spark, t, 2).count() == 8


def test_vacuum_expiry_keeps_append_only_history_readable(spark, tmp_path):
    """Append-only dirs below the floor stay reachable from retained
    snapshots, so expiry must delete NOTHING and incremental reads that
    target retained snapshots keep working."""
    import pytest

    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 5), t, mode="overwrite")   # v1
    V.commit_write(_df(spark, 5, 8), t, mode="append")      # v2
    V.commit_write(_df(spark, 8, 12), t, mode="append")     # v3
    removed = V.vacuum(t, retention_seconds=0, min_retained_version=3)
    assert removed == []  # every dir reachable from v3
    assert V.read_version(spark, t, 3).count() == 12
    # the (v2, v3] delta reads dirs still live in v3 -> fine
    assert V.read_changes_since(spark, t, 2, to_version=3).count() == 4
    with pytest.raises(V.VersionExpiredError):
        V.read_version(spark, t, 2)


def test_delete_where_dv_merge_on_read(spark):
    """r11 positional deletes (MOR): a delete_dv commit records (file,
    row index) tombstones instead of rewriting files — reads anti-join
    them out, content equals COW's answer, physical files are untouched,
    time travel below the delete ignores it, pruning still composes,
    stats report the LOGICAL count, and an overwrite (OPTIMIZE)
    materializes the deletes back into clean files."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from data_pipeline_zeal_spark.io import load_table
    from data_pipeline_zeal_spark.sources import versioned as V

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    c1 = F.lit("1997-01-01 00:00:00").cast("timestamp")
    c2 = F.lit("1999-01-01 00:00:00").cast("timestamp")
    t = tempfile.mkdtemp(prefix="del_dv_")
    try:
        V.commit_write(o.filter(F.col("o_orderdate") < c1).coalesce(1), t, mode="overwrite")
        V.commit_write(
            o.filter((F.col("o_orderdate") >= c1) & (F.col("o_orderdate") < c2)).coalesce(1),
            t, mode="append",
        )
        V.commit_write(o.filter(F.col("o_orderdate") >= c2).coalesce(1), t, mode="append")
        before = V.read_version(spark, t).count()
        files_before = sorted(
            os.path.join(r, f) for r, _, fs in os.walk(t) for f in fs
            if f.endswith(".parquet")
        )

        rep = V.delete_where_dv(
            spark, t, [("o_orderdate", ">=", "1999-01-01 00:00:00")]
        )
        want = o.filter(F.col("o_orderdate") < c2)
        assert rep["rows_deleted"] == before - want.count()
        assert rep["files_scanned"] == 1  # stats pruned the other two
        # merge-on-read: logical content == COW's answer
        got = V.read_version(spark, t).orderBy("o_orderkey").collect()
        assert got == want.orderBy("o_orderkey").collect()
        # ... with ZERO data files rewritten, moved, or removed
        files_after = sorted(
            os.path.join(r, f) for r, _, fs in os.walk(t) for f in fs
            if f.endswith(".parquet") and "/dv" not in r.rsplit("/", 1)[-1]
        )
        assert set(files_before) <= set(files_after)
        # time travel below the delete ignores it
        assert V.read_version(spark, t, 3).count() == before
        # logical accounting: snapshot_rows subtracts the tombstones
        assert V.table_stats(t)[-1]["snapshot_rows"] == want.count()
        # pruned predicate reads compose with the anti-join
        sliced = V.read_where(spark, t, [("o_orderdate", ">=", "1998-01-01 00:00:00")])
        assert sliced.count() == want.filter(
            F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
        ).count()

        # re-deleting the same predicate is a logical no-op (no commit)
        rep2 = V.delete_where_dv(
            spark, t, [("o_orderdate", ">=", "1999-01-01 00:00:00")]
        )
        assert rep2["rows_deleted"] == 0
        assert V.latest_version(t) == rep["version"]

        # second DV over a different slice stacks
        rep3 = V.delete_where_dv(
            spark, t, [("o_orderdate", "<", "1997-01-01 00:00:00")]
        )
        want2 = want.filter(F.col("o_orderdate") >= c1)
        assert rep3["rows_deleted"] == want.count() - want2.count()
        assert V.read_version(spark, t).count() == want2.count()

        # OPTIMIZE materializes: overwrite resets the DVs, content kept
        V.compact(spark, t, num_files=2, txn="opt")
        assert V.live_dv_dirs(t) == []
        got2 = V.read_version(spark, t).orderBy("o_orderkey").collect()
        assert got2 == want2.orderBy("o_orderkey").collect()
    finally:
        shutil.rmtree(t, ignore_errors=True)


def test_delete_where_dv_cow_interplay_and_vacuum(spark):
    """COW DML over a DV-bearing table must MATERIALIZE (hard-linking
    would resurrect tombstoned rows via the new path); vacuum keeps
    tombstone dirs referenced by retained snapshots; the DataSource
    refuses loudly instead of silently resurrecting."""
    import shutil
    import tempfile

    import pytest

    from pyspark.sql import functions as F

    from data_pipeline_zeal_spark.io import load_table
    from data_pipeline_zeal_spark.sources import versioned as V

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    t = tempfile.mkdtemp(prefix="dv_cow_")
    try:
        half1 = o.filter(F.col("o_orderkey") % 2 == 0).coalesce(1)
        half2 = o.filter(F.col("o_orderkey") % 2 == 1).coalesce(1)
        V.commit_write(half1, t, mode="overwrite")
        V.commit_write(half2, t, mode="append")
        V.delete_where_dv(spark, t, [("o_orderkey", "<=", 64)])
        live = V.read_version(spark, t)
        expect = o.filter(F.col("o_orderkey") > 64)
        assert live.count() == expect.count()

        # vacuum must NOT remove the live tombstone dir
        removed = V.vacuum(t, retention_seconds=0)
        assert V.read_version(spark, t).count() == expect.count(), removed

        # the raw-file DataSource refuses a DV-bearing table
        from data_pipeline_zeal_spark.sources import versioned_datasource as DS

        DS.register(spark)
        with pytest.raises(Exception, match="positional deletes"):
            spark.read.format("zeal_versioned").load(t).collect()

        # COW delete now materializes: no links, DVs gone, content right
        rep = V.delete_where(spark, t, [("o_orderkey", ">", 5000)])
        assert rep["files_linked"] == 0
        assert V.live_dv_dirs(t) == []
        want = o.filter((F.col("o_orderkey") > 64) & (F.col("o_orderkey") <= 5000))
        got = V.read_version(spark, t).orderBy("o_orderkey").collect()
        assert got == want.orderBy("o_orderkey").collect()
        assert rep["rows_deleted"] == expect.count() - want.count()
    finally:
        shutil.rmtree(t, ignore_errors=True)


def test_maintain_table_defragments_on_file_count(spark, tmp_path):
    """Auto-OPTIMIZE (r11): the fragmentation trigger reads only the
    log; below threshold it refuses to rewrite, above it one compact
    restores the file count and content."""
    t = str(tmp_path / "tbl")
    for lo in range(0, 40, 5):  # eight single-file appends
        V.commit_write(_df(spark, lo, lo + 5).coalesce(1), t, mode="append")
    noop = V.maintain_table(spark, t, max_live_files=32)
    assert not noop["compacted"] and noop["files_before"] == 8

    rec = V.maintain_table(spark, t, max_live_files=4, num_files=2)
    assert rec["compacted"] and rec["fragmented"]
    assert rec["files_after"] <= 2 < rec["files_before"]
    assert sorted(r.id for r in V.read_version(spark, t).collect()) == list(
        range(40)
    )
    # settled: the next check owes nothing
    assert not V.maintain_table(spark, t, max_live_files=4)["compacted"]


def test_maintain_table_settles_tombstone_debt(spark, tmp_path):
    """The DV-debt trigger: merge-on-read deletes above the ratio earn a
    materializing rewrite (tombstones gone, logical content kept); a
    small DV stays below threshold and keeps MOR's cheap write."""
    t = str(tmp_path / "tbl")
    V.commit_write(_df(spark, 0, 100).coalesce(1), t, mode="overwrite")
    V.delete_where_dv(spark, t, [("id", "<", 3)])  # 3% deleted
    small = V.maintain_table(spark, t, max_dv_ratio=0.1)
    assert not small["compacted"] and small["dv_rows"] == 3

    V.delete_where_dv(spark, t, [("id", "<", 20)])  # now 20% deleted
    rec = V.maintain_table(spark, t, max_dv_ratio=0.1, num_files=1)
    assert rec["compacted"] and rec["dv_debt"]
    assert V.live_dv_dirs(t) == []  # materialized
    assert sorted(r.id for r in V.read_version(spark, t).collect()) == list(
        range(20, 100)
    )


def test_compact_by_target_file_bytes(spark):
    """r12 — Delta targetFileSize analog: OPTIMIZE derives the output
    file count from the live snapshot's on-disk bytes, so the operator
    owns bytes-per-file and the count tracks table growth."""
    import math
    import tempfile

    import shutil as _sh

    from pyspark.sql import functions as F

    from data_pipeline_zeal_spark.sources import versioned as V2

    t = tempfile.mkdtemp(prefix="tfb_")
    try:
        df = spark.range(50_000).select(
            F.col("id"), (F.col("id") * 3).alias("v")
        )
        V2.commit_write(df.repartition(16), t, mode="overwrite")
        live = V2._live_parquet_bytes(t)
        assert live > 0
        # huge target -> single file
        V2.compact(spark, t, target_file_bytes=live * 10)
        assert V2.pruned_paths(t, [])[1] == 1
        # quarter-of-live target -> ceil(live/target) files (re-measure:
        # the compact rewrote the snapshot)
        live2 = V2._live_parquet_bytes(t)
        target = max(1, live2 // 4)
        V2.compact(spark, t, target_file_bytes=target)
        want = math.ceil(live2 / target)
        got = V2.pruned_paths(t, [])[1]
        assert got == want, (got, want)
        # content untouched by either rewrite
        assert V2.read_version(spark, t).count() == 50_000
        import pytest as _pt

        with _pt.raises(ValueError):
            V2.compact(spark, t, target_file_bytes=0)
    finally:
        _sh.rmtree(t, ignore_errors=True)
