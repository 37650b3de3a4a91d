"""ACID transaction-log table (sources/acid.py): the guarantees the
MaterializedTable docstring defers to a real table format — atomic
commits, optimistic concurrency, snapshot isolation / time travel,
idempotent streaming MERGE, checkpointed log replay, and stats-pruned
merge rewrites — each proven directly against the log on disk."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from data_pipeline_kafka_ek_spark.sources.acid import (
    ConcurrentModification,
    TxnLogTable,
)


def _table(spark, tmp_path, **kw) -> TxnLogTable:
    return TxnLogTable(
        spark, str(tmp_path / "tbl"), key="k", order_col="seq", **kw
    )


def _live_adds(t, version=None) -> "list[dict]":
    """The live add actions of ``t``'s fold at ``version``."""
    return list(t._fold_log(version)["adds"].values())


def _rows(t, version=None):
    return {
        (r.k): (r.seq, r.v) for r in t.read(version).select("k", "seq", "v").collect()
    }


def test_append_and_snapshot_read(spark, tmp_path):
    t = _table(spark, tmp_path)
    df1 = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string")
    v0 = t.append(df1)
    assert v0 == 0
    assert _rows(t) == {1: (1, "a"), 2: (1, "b")}
    df2 = spark.createDataFrame([(3, 1, "c")], "k long, seq long, v string")
    v1 = t.append(df2)
    assert v1 == 1
    assert _rows(t) == {1: (1, "a"), 2: (1, "b"), 3: (1, "c")}
    # time travel: version 0 still reads the original two rows
    assert _rows(t, version=0) == {1: (1, "a"), 2: (1, "b")}
    ops = [h["op"] for h in t.history()]
    assert ops == ["append", "append"]


def test_merge_upserts_deletes_and_wins_by_order(spark, tmp_path):
    t = _table(spark, tmp_path)
    base = spark.createDataFrame(
        [(k, 1, f"v{k}") for k in range(1, 6)], "k long, seq long, v string"
    )
    t.append(base)
    changes = spark.createDataFrame(
        [
            (2, 5, "v2-new", False),   # newer seq: wins
            (3, 0, "v3-stale", False), # older seq: existing row wins
            (4, 9, "gone", True),      # delete
            (6, 1, "v6", False),       # brand-new key
        ],
        "k long, seq long, v string, deleted boolean",
    )
    t.merge(changes, delete_col="deleted")
    assert _rows(t) == {
        1: (1, "v1"),
        2: (5, "v2-new"),
        3: (1, "v3"),
        5: (1, "v5"),
        6: (1, "v6"),
    }
    # snapshot isolation: the pre-merge version still reads the old state
    assert _rows(t, version=0)[4] == (1, "v4")


def test_merge_equals_batch_latest_per_key_oracle(spark, tmp_path):
    """A sequence of merges must equal one batch latest-per-key fold over
    the concatenated changelog (the MaterializedTable equivalence)."""
    import random

    rng = random.Random(11)
    t = _table(spark, tmp_path)
    log = []
    seq = 0
    for _ in range(4):
        batch = []
        for _ in range(25):
            seq += 1
            batch.append((rng.randint(1, 12), seq, f"s{seq}"))
        log.extend(batch)
        t.merge(spark.createDataFrame(batch, "k long, seq long, v string"))
    expect = {}
    for k, s, v in log:
        if k not in expect or s > expect[k][0]:
            expect[k] = (s, v)
    assert _rows(t) == expect


def _inject_racing_commit(t, actions_fn):
    """Wrap t._try_commit so a competing commit lands at the exact version
    this writer is about to claim — the true snapshot->commit race window."""
    orig = t._try_commit
    state = {"fired": False}

    def sabotaged(version, op, actions, txn, schema=None):
        if not state["fired"]:
            state["fired"] = True
            evil = {
                "version": version,
                "op": "competing",
                "actions": actions_fn(),
                "txn": None,
            }
            assert t._write_text_atomic(t._commit_path(version), json.dumps(evil))
        return orig(version, op, actions, txn, schema)

    t._try_commit = sabotaged
    return state


def test_commit_race_append_retries_merge_conflicts(spark, tmp_path):
    # append race: the competitor lands a harmless commit at our version;
    # the blind append must retry past it (its files are already on disk)
    t = _table(spark, tmp_path)
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    _inject_racing_commit(t, lambda: [])
    v = t.append(spark.createDataFrame([(2, 1, "b")], "k long, seq long, v string"))
    assert v == 2  # version 1 went to the competitor
    assert _rows(t)[2] == (1, "b")
    assert t._read_commit(1)["op"] == "competing"

    # merge race: the competitor REMOVES the very file this merge read
    # between snapshot and commit — the merge must raise, never silently
    # resurrect rows the winner rewrote
    t2 = _table(spark, tmp_path)
    target = [
        a for a in _live_adds(t2) if a["min_key"] <= 1 <= a["max_key"]
    ][0]
    _inject_racing_commit(t2, lambda: [{"remove": {"path": target["path"]}}])
    with pytest.raises(ConcurrentModification):
        t2.merge(
            spark.createDataFrame([(1, 9, "z")], "k long, seq long, v string"),
            max_retries=3,
        )


_S = "k long, seq long, v string"

# every write op, as a call on a table built by _race_table (head 2,
# three files of keys 1-4 / 5-8 / 9-12)
_WRITE_OPS = {
    "record_txn": lambda t, spark: t.record_txn("app", 3),
    "add_constraint": lambda t, spark: t.add_constraint("k_pos", "k > 0"),
    "add_columns": lambda t, spark: t.add_columns("w DOUBLE"),
    "set_property": lambda t, spark: t.set_property("owner", "ops"),
    "unset_property": lambda t, spark: t.unset_property("owner"),
    "drop_constraint": lambda t, spark: t.drop_constraint("k_pos"),
    "append": lambda t, spark: t.append(
        spark.createDataFrame([(20, 1, "new")], _S)
    ),
    "merge": lambda t, spark: t.merge(
        spark.createDataFrame([(1, 9, "m")], _S)
    ),
    "delete_where": lambda t, spark: t.delete_where("k = 2"),
    "update_where": lambda t, spark: t.update_where("k = 3", {"v": "'u'"}),
    "optimize": lambda t, spark: t.optimize(),
    "restore": lambda t, spark: t.restore(version=1),
}


def _race_table(spark, tmp_path) -> TxnLogTable:
    t = _table(spark, tmp_path, files_per_commit=1)
    for lo in (1, 5, 9):
        t.append(
            spark.createDataFrame(
                [(k, 1, f"v{k}") for k in range(lo, lo + 4)], _S
            )
        )
    return t


@pytest.mark.parametrize("op", sorted(_WRITE_OPS))
def test_every_write_op_retries_past_a_harmless_competitor(
    spark, tmp_path, op
):
    """Each write op commits through the one optimistic loop: a
    competing data-free commit landing at the op's version makes it
    re-fold and land one version later."""
    t = _race_table(spark, tmp_path)
    _inject_racing_commit(t, lambda: [])
    assert _WRITE_OPS[op](t, spark) == 4
    assert t._read_commit(3)["op"] == "competing"
    assert t._list_versions() == [0, 1, 2, 3, 4]


@pytest.mark.parametrize(
    "op", ["merge", "delete_where", "update_where", "optimize", "restore"]
)
def test_file_removing_competitor_conflicts_or_restore_rediffs(
    spark, tmp_path, op
):
    """A competing commit that removes a file the op read (keys 1-4)
    raises ConcurrentModification for the ops that rewrite what they
    read; restore reads no files and re-diffs against the new head, so
    its commit still lands the target snapshot exactly."""
    t = _race_table(spark, tmp_path)
    first = [a for a in _live_adds(t) if a["min_key"] == 1][0]
    _inject_racing_commit(t, lambda: [{"remove": {"path": first["path"]}}])
    if op != "restore":
        with pytest.raises(ConcurrentModification, match="files this"):
            _WRITE_OPS[op](t, spark)
        assert t.latest_version() == 3
        return
    assert _WRITE_OPS[op](t, spark) == 4
    assert {a["path"] for a in _live_adds(t)} == {
        a["path"] for a in _live_adds(t, 1)
    }
    assert _rows(t) == _rows(t, version=1)


def _count_log_walk(t):
    """Instrument ``t``'s log access in place: returns ``(calls, reads)``
    — counts of ``_log_listing``/``_fold_log`` calls, and of
    ``_read_text`` calls per path (commit and checkpoint bodies, the
    vacuum marker)."""
    from collections import Counter

    calls, reads = Counter(), Counter()
    for name in ("_log_listing", "_fold_log", "_read_text"):

        def counted(*a, _orig=getattr(t, name), _name=name, **kw):
            if _name == "_read_text":
                reads[a[0]] += 1
            else:
                calls[_name] += 1
            return _orig(*a, **kw)

        setattr(t, name, counted)
    return calls, reads


def test_commit_protocol_lists_and_folds_the_log_once(spark, tmp_path):
    """An uncontended txn merge makes ONE log listing and ONE fold — the
    fold that aligns the change set also serves the txn guard and the
    commit attempt — plus one of each for the checkpoint written at a
    checkpoint version. read() and read_changes() list once."""
    t = _table(spark, tmp_path, checkpoint_interval=4)
    calls, _ = _count_log_walk(t)
    for b in range(6):
        calls.clear()
        v = t.merge(
            spark.createDataFrame([(b, b, "x"), (b + 1, b, "y")], _S),
            txn={"app_id": "app", "batch_id": b},
        )
        n = 2 if v == 4 else 1
        assert calls == {"_log_listing": n, "_fold_log": n}, (v, calls)
    calls.clear()
    t.read()
    assert calls["_log_listing"] == 1, calls
    calls.clear()
    t.read_changes(2)
    assert calls["_log_listing"] == 1, calls


@pytest.fixture(scope="module")
def walk_table(spark, tmp_path_factory):
    """A 32-commit change-feed table (checkpoints at 10, 20, 30): an
    append, 27 data-free property commits, four merges."""
    t = TxnLogTable(
        spark, str(tmp_path_factory.mktemp("walk") / "src"), key="k",
        order_col="seq", checkpoint_interval=10, change_feed=True,
    )
    t.append(spark.createDataFrame([(k, 0, "a") for k in range(8)], _S))
    for i in range(27):
        t.set_property(f"p{i}", str(i))
    for b in range(4):
        t.merge(spark.createDataFrame([(b, b + 1, "x"), (b + 20, 1, "y")], _S))
    assert t.latest_version() == 31
    return t


def test_read_side_ops_walk_the_log_once(spark, walk_table, tmp_path):
    """Every read-side and maintenance op makes ONE log listing, at most
    ONE fold, and reads each commit/checkpoint body at most once —
    vacuum folds once below its window and walks the retained commits
    once; the incremental consumers take the span, its emptiness and
    its head from the feed's own walk."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
        TableReplicator,
    )

    t = walk_table
    mv = IncrementalAggregate(t, str(tmp_path / "mv"), group_col="v")
    rep = TableReplicator(t, str(tmp_path / "rep"))
    mv.refresh()
    rep.replicate()
    calls, reads = _count_log_walk(t)

    def walk(op):
        calls.clear()
        reads.clear()
        op()
        assert calls["_log_listing"] == 1, calls
        assert calls["_fold_log"] <= 1, calls
        assert max(reads.values(), default=0) <= 1, reads
        return sum(reads.values())

    # a caught-up poll stops at the listing: no fold, no body read
    for consumer in (mv.refresh, rep.replicate):
        assert walk(consumer) == 0 and calls["_fold_log"] == 0, calls

    # checkpoint 20 + commit 21 (the fold at wm - 1) + commits 22..31
    assert walk(lambda: t.vacuum(retain_versions=10, dry_run=True)) <= 12
    walk(lambda: t.read_pruned([("k", ">=", 5)]))
    walk(lambda: t.stream_changes(25))
    walk(t.history)
    # AS OF resolution and the fold share one listing (after history(),
    # so the publish times are cached and only the fold reads bodies)
    walk(lambda: t.read(timestamp=time.time()))
    for b in range(3):
        t.merge(spark.createDataFrame([(b, 10 + b, "z")], _S))
    walk(mv.refresh)
    walk(rep.replicate)
    assert mv.cursor() == rep.cursor() == t.latest_version() == 34


def test_history_py4j_round_trips_per_commit(spark, walk_table):
    """history() on a fresh handle costs a handful of py4j round trips
    per commit: the JVM classes and the FileSystem are resolved once
    per table, not on every body read."""
    t = TxnLogTable(spark, walk_table.path, key="k", order_col="seq")
    client = spark.sparkContext._gateway._gateway_client
    inner = client.send_command
    sent = [0]

    def counted(*a, **kw):
        sent[0] += 1
        return inner(*a, **kw)

    client.send_command = counted
    try:
        h = t.history()
    finally:
        client.send_command = inner
    assert len(h) >= 32
    assert sent[0] <= 8 * len(h), sent[0]


def test_vacuum_py4j_round_trips(spark, walk_table):
    """A dry-run vacuum on the 32-commit table lists the part files and
    the log directory through pyarrow in one call each, so its py4j
    round trips are the log walk's, not one handful per part file."""
    t = TxnLogTable(spark, walk_table.path, key="k", order_col="seq")
    client = spark.sparkContext._gateway._gateway_client
    inner = client.send_command
    sent = [0]

    def counted(*a, **kw):
        sent[0] += 1
        return inner(*a, **kw)

    client.send_command = counted
    try:
        t.vacuum(retain_versions=10, dry_run=True)
    finally:
        client.send_command = inner
    assert sent[0] <= 300, sent[0]


def test_vacuum_protects_exactly_the_retained_snapshots(spark, tmp_path):
    """vacuum's protected set is the union of the retained snapshots'
    live adds (plain-Python reference: ``_fold_log(v)["adds"]`` for
    every v in the window), and its change-file set is the cdc paths of
    the retained commits — across a checkpoint and a restore inside the
    window, for dry runs at several retentions and for the real run."""
    import os

    from data_pipeline_kafka_ek_spark.sources.acid import _canon

    t = _table(
        spark, tmp_path, files_per_commit=1, checkpoint_interval=4,
        change_feed=True,
    )
    t.append(spark.createDataFrame([(k, 0, "a") for k in range(4)], _S))
    t.merge(spark.createDataFrame([(1, 1, "b")], _S))
    t.append(spark.createDataFrame([(10, 0, "c")], _S))
    t.merge(spark.createDataFrame([(10, 1, "d")], _S))
    t.merge(spark.createDataFrame([(2, 1, "e")], _S))  # v4: checkpoint
    t.restore(version=3)
    t.merge(spark.createDataFrame([(3, 1, "f")], _S))
    latest = t.latest_version()
    assert latest == 6

    def on_disk(kind):
        root = tmp_path / "tbl" / kind
        return {
            os.path.join(d, f)
            for d, _, fs in os.walk(root)
            for f in fs
            if f.startswith("part-")
        }

    def reference(retain):
        wm = max(0, latest - retain + 1)
        adds = set().union(
            *({_canon(p) for p in t._fold_log(v)["adds"]}
              for v in range(wm, latest + 1))
        )
        cdc = {
            _canon(a["cdc"]["path"])
            for v in range(wm, latest + 1)
            for a in t._read_commit(v)["actions"]
            if "cdc" in a
        }
        return adds, cdc

    files, changes = on_disk("files"), on_disk("changes")
    for retain in (1, 2, 3, 4, 7):
        adds, cdc = reference(retain)
        assert adds <= files and cdc <= changes, retain
        preview = t.vacuum(
            retain_versions=retain, retain_tmp_s=0.0, min_age_s=0.0,
            dry_run=True,
        )
        assert preview == {
            "data_files_deleted": len(files - adds),
            "tmp_files_deleted": 0,
            "change_files_deleted": len(changes - cdc),
        }, retain
    assert (on_disk("files"), on_disk("changes")) == (files, changes)
    adds, cdc = reference(3)
    assert files - adds and changes - cdc  # the window excludes something
    before = {v: _rows(t, v) for v in range(4, latest + 1)}
    real = t.vacuum(retain_versions=3, retain_tmp_s=0.0, min_age_s=0.0)
    assert real["data_files_deleted"] == len(files - adds)
    assert real["change_files_deleted"] == len(changes - cdc)
    assert (on_disk("files"), on_disk("changes")) == (adds, cdc)
    assert {v: _rows(t, v) for v in range(4, latest + 1)} == before
    assert t.read_changes(3).count() > 0


def test_optimize_only_span_advances_consumers_with_zero_jobs(spark, tmp_path):
    """Refresh and replicate over a span of only optimize and data-free
    commits take its emptiness from the feed's walk: the cursor advances
    to the head through a data-free txn commit and no Spark job runs —
    also after a vacuum moved the watermark past the cursors, because an
    empty span reads no file vacuum could have reclaimed."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
        TableReplicator,
    )

    src = _table(spark, tmp_path, files_per_commit=1, change_feed=True)
    for i in range(3):
        src.append(spark.createDataFrame([(i, 1, "g")], _S))
    mv = IncrementalAggregate(src, str(tmp_path / "mv"), group_col="v")
    rep = TableReplicator(src, str(tmp_path / "rep"))
    assert mv.refresh() is not None and rep.replicate() is not None
    assert src.optimize() is not None
    src.set_property("note", "x")
    src.vacuum(retain_versions=1, retain_tmp_s=0.0, min_age_s=0.0)
    # optimize + property commit: the watermark is at the head, two
    # past both cursors (below both feeds' vacuum bounds)
    assert src._vacuum_watermark() == src.latest_version()
    assert mv.cursor() == rep.cursor() == src.latest_version() - 2
    sc = spark.sparkContext
    sc.setJobGroup("optimize-only-span", "consumers over an optimize span")
    try:
        assert mv.refresh() is None
        assert rep.replicate() is None
    finally:
        sc.setJobGroup("optimize-only-span-done", "")
    assert list(sc.statusTracker().getJobIdsForGroup("optimize-only-span")) == []
    assert mv.cursor() == rep.cursor() == src.latest_version()


def test_replicate_refuses_a_merge_without_change_files(spark, tmp_path):
    """A merge committed with change_feed off has no row-level images:
    replicate() raises instead of degrading, and the cursor stays."""
    from data_pipeline_kafka_ek_spark.sources.incremental import TableReplicator

    src = _table(spark, tmp_path, files_per_commit=1)
    src.append(spark.createDataFrame([(1, 1, "x")], _S))
    rep = TableReplicator(src, str(tmp_path / "rep"))
    assert rep.replicate() is not None
    src.merge(spark.createDataFrame([(1, 2, "y")], _S))
    with pytest.raises(ValueError, match="without row-level change"):
        rep.replicate()
    assert rep.cursor() == 0


def test_history_reads_each_body_once_and_dates_legacy_commits_by_mtime(
    spark, tmp_path
):
    """A commit body without an in-body ``ts`` (written before the field
    existed) resolves by its file's mtime in both history() and
    version_at(); history() reads each commit body at most once."""
    import os
    import time

    t = _table(spark, tmp_path)
    for k in range(3):
        t.append(spark.createDataFrame([(k, 1, "a")], _S))
    legacy = {"version": 3, "op": "append", "actions": [], "txn": None}
    assert t._write_text_atomic(t._commit_path(3), json.dumps(legacy))
    mtime = time.time() + 1000
    os.utime(t._commit_path(3), (mtime, mtime))

    reads = []
    orig = t._read_text

    def counted(p):
        reads.append(p)
        return orig(p)

    t._read_text = counted
    h = t.history()
    t._read_text = orig
    assert [x["version"] for x in h] == [0, 1, 2, 3]
    assert len(reads) == len(set(reads)) == 4, reads
    assert h[2]["timestamp"] < mtime - 500
    assert h[3]["timestamp"] == pytest.approx(mtime, abs=1.0)
    fresh = _table(spark, tmp_path)
    assert fresh.version_at(mtime - 500) == 2
    assert fresh.version_at(mtime + 1) == 3


def test_idempotent_txn_skips_replayed_batch(spark, tmp_path):
    t = _table(spark, tmp_path)
    b0 = spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string")
    t.merge(b0, txn={"app_id": "app", "batch_id": 0})
    v_before = t.latest_version()
    # replay of batch 0 (and a stale batch after batch 1) must be no-ops
    t.merge(
        spark.createDataFrame([(1, 2, "dup")], "k long, seq long, v string"),
        txn={"app_id": "app", "batch_id": 0},
    )
    assert t.latest_version() == v_before
    assert _rows(t)[1] == (1, "a")
    t.merge(
        spark.createDataFrame([(2, 1, "b")], "k long, seq long, v string"),
        txn={"app_id": "app", "batch_id": 1},
    )
    t.merge(
        spark.createDataFrame([(9, 9, "stale")], "k long, seq long, v string"),
        txn={"app_id": "app", "batch_id": 0},
    )
    assert 9 not in _rows(t)
    # a different app id is independent
    t.merge(
        spark.createDataFrame([(3, 1, "c")], "k long, seq long, v string"),
        txn={"app_id": "other", "batch_id": 0},
    )
    assert _rows(t)[3] == (1, "c")


def test_checkpoint_bounds_log_replay(spark, tmp_path):
    t = _table(spark, tmp_path, checkpoint_interval=5)
    for i in range(12):
        t.append(
            spark.createDataFrame([(i, 1, f"v{i}")], "k long, seq long, v string")
        )
    ckpt = t._base_checkpoint(t.latest_version())
    assert ckpt is not None and ckpt[0] == 10
    # snapshot from checkpoint+tail equals full-log replay
    full = {}
    for v in t._list_versions():
        for a in t._read_commit(v)["actions"]:
            if "add" in a:
                full[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                full.pop(a["remove"]["path"], None)
    assert {a["path"] for a in _live_adds(t)} == set(full)
    assert len(_rows(t)) == 12


def test_merge_stats_pruning_rewrites_only_overlapping_files(spark, tmp_path):
    """The 100 TB property: a merge touching a narrow key range must
    rewrite only the files whose [min,max] stats overlap it."""
    t = _table(spark, tmp_path, files_per_commit=4)
    base = spark.createDataFrame(
        [(k, 1, f"v{k}") for k in range(1, 401)], "k long, seq long, v string"
    )
    t.append(base)
    n_before = t.file_count()
    assert n_before >= 3  # range clustering actually split the key space
    t.merge(
        spark.createDataFrame([(5, 7, "new5")], "k long, seq long, v string")
    )
    c = t._read_commit(t.latest_version())
    removed = sum(1 for a in c["actions"] if "remove" in a)
    assert removed == 1, c["actions"]  # only the file holding key 5
    assert _rows(t)[5] == (7, "new5")
    assert _rows(t)[400] == (1, "v400")


def test_streaming_foreach_batch_merge_is_exactly_once(spark, tmp_path):
    """foreachBatch -> TxnLogTable.merge with txn ids: the final table
    equals the batch latest-per-key fold of the replayed changelog, and a
    manual re-application of the last batch changes nothing."""
    from data_pipeline_kafka_ek_spark.operators.relational import latest_per_key
    from data_pipeline_kafka_ek_spark.streaming import runtime

    changes = spark.createDataFrame(
        [(i, i % 7, f"s{i}") for i in range(60)], "seq long, k long, v string"
    )
    t = _table(spark, tmp_path)
    stream = runtime.replayed_stream(spark, changes, n_slices=3, order_col="seq")
    q = (
        stream.writeStream.foreachBatch(t.foreach_batch_writer("cdc-app"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    expect = {
        r.k: (r.seq, r.v)
        for r in latest_per_key(changes, "k", [F.desc("seq")]).collect()
    }
    assert _rows(t) == expect
    # replay the final batch id by hand: idempotent, no new version
    v = t.latest_version()
    last_batch = int(
        max(h["txn"]["batch_id"] for h in t.history() if h["txn"])
    )
    t.merge(
        changes.limit(5),
        txn={"app_id": "cdc-app", "batch_id": last_batch},
    )
    assert t.latest_version() == v


def test_unreferenced_files_lists_only_orphans(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    assert t.unreferenced_files() == []
    # drop an orphan parquet into the files area: it must be flagged
    import shutil

    live = _live_adds(t)[0]["path"].replace("file:", "")
    orphan = str(tmp_path / "tbl" / "files" / "c-orphan" / "part-orphan.parquet")
    import os

    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    shutil.copy(live, orphan)
    orphans = t.unreferenced_files()
    assert len(orphans) == 1 and orphans[0].endswith("part-orphan.parquet")


def test_concurrent_appends_all_land(spark, tmp_path):
    """Real thread-level concurrency: N writers race blind appends at the
    same table. Optimistic retry must land every commit exactly once —
    contiguous versions, every row present, no file lost or duplicated."""
    from concurrent.futures import ThreadPoolExecutor

    t = _table(spark, tmp_path)
    dfs = [
        spark.createDataFrame(
            [(100 * w + j, 1, f"w{w}r{j}") for j in range(5)],
            "k long, seq long, v string",
        )
        for w in range(6)
    ]
    with ThreadPoolExecutor(max_workers=6) as ex:
        versions = list(ex.map(lambda df: t.append(df, max_retries=50), dfs))
    assert sorted(versions) == list(range(6))  # contiguous, no gaps
    got = _rows(t)
    assert len(got) == 30
    assert all(got[100 * w + j] == (1, f"w{w}r{j}") for w in range(6) for j in range(5))
    assert [h["op"] for h in t.history()] == ["append"] * 6


def test_cdc_stream_into_acid_table_feeds_enrichment_join(spark, tmp_path):
    """The reference's core flow on ACID storage: a CDC change stream
    MERGEs into the TxnLogTable exactly-once (foreachBatch), and the
    table's current snapshot serves the stream-static enrichment join
    (J1) — final join output equals the batch recompute over the
    changelog's latest-per-key state."""
    from pyspark.sql import functions as F

    from data_pipeline_kafka_ek_spark.operators.relational import latest_per_key
    from data_pipeline_kafka_ek_spark.streaming import runtime

    changes = spark.createDataFrame(
        [(i, i % 5, f"name{i}", i % 2 == 0) for i in range(40)],
        "seq long, k long, name string, active boolean",
    )
    t = _table(spark, tmp_path)
    stream = runtime.replayed_stream(spark, changes, n_slices=4, order_col="seq")
    q = (
        stream.writeStream.foreachBatch(t.foreach_batch_writer("dim-cdc"))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()

    facts = spark.createDataFrame(
        [(i, i % 7) for i in range(50)], "event_id long, k long"
    )
    dim = t.read().select("k", "name", "active")
    got = {
        (r.event_id): (r.name, r.active)
        for r in facts.join(F.broadcast(dim), "k", "left")
        .filter(F.col("name").isNotNull())
        .collect()
    }
    latest = {
        r.k: (r.name, r.active)
        for r in latest_per_key(changes, "k", [F.desc("seq")]).collect()
    }
    expect = {
        i: latest[i % 7] for i in range(50) if (i % 7) in latest
    }
    assert got == expect and len(got) > 0


def test_inflight_merge_race_never_double_applies(spark, tmp_path):
    """The slow-publisher scenario: writer A computes a merge from base
    version v-1, and BEFORE A publishes, writer B lands its own merge at
    v (touching the same key range). A's publish must lose (put-if-absent
    arbiter), and because B removed the file A read, A must raise
    ConcurrentModification rather than land a sibling commit whose adds
    double-apply the key. A clean retry then merges on top of B."""
    t_a = _table(spark, tmp_path)
    t_b = _table(spark, tmp_path)
    t_a.append(
        spark.createDataFrame(
            [(1, 1, "base1"), (2, 1, "base2")], "k long, seq long, v string"
        )
    )

    orig = t_a._try_commit
    state = {"fired": False}

    def slow_publish(version, op, actions, txn, schema=None):
        if not state["fired"]:
            state["fired"] = True
            # B's merge fully publishes while A is "in flight"
            t_b.merge(
                spark.createDataFrame(
                    [(1, 5, "b-wins")], "k long, seq long, v string"
                )
            )
        return orig(version, op, actions, txn, schema)

    t_a._try_commit = slow_publish
    with pytest.raises(ConcurrentModification):
        t_a.merge(
            spark.createDataFrame([(1, 3, "a-loses")], "k long, seq long, v string"),
            max_retries=1,
        )
    # the log is dense and B's state is intact
    vs = t_a._list_versions()
    assert vs == list(range(len(vs)))
    assert _rows(t_a)[1] == (5, "b-wins")
    # a clean retry applies on top of the published winner
    t_a._try_commit = orig
    t_a.merge(
        spark.createDataFrame([(1, 9, "a-retry")], "k long, seq long, v string")
    )
    got = _rows(t_a)
    assert got[1] == (9, "a-retry") and got[2] == (1, "base2")
    # exactly one row per key: nothing double-applied
    assert t_a.read().groupBy("k").count().filter(F.col("count") > 1).count() == 0


def test_inflight_append_race_stays_dense(spark, tmp_path):
    """A blind append losing to a concurrent merge at its version must
    land at the NEXT version — no gaps, no lost rows (versions are dense
    by construction; there is no claim that can park a number)."""
    t_a = _table(spark, tmp_path)
    t_b = _table(spark, tmp_path)
    t_a.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))

    orig = t_a._try_commit
    state = {"fired": False}

    def slow_publish(version, op, actions, txn, schema=None):
        if not state["fired"]:
            state["fired"] = True
            t_b.append(
                spark.createDataFrame([(50, 1, "b")], "k long, seq long, v string")
            )
        return orig(version, op, actions, txn, schema)

    t_a._try_commit = slow_publish
    v = t_a.append(spark.createDataFrame([(60, 1, "c")], "k long, seq long, v string"))
    assert v == 2
    assert t_a._list_versions() == [0, 1, 2]
    assert set(_rows(t_a)) == {1, 50, 60}


def test_checkpoint_complete_under_concurrent_writers(spark, tmp_path):
    """Checkpoints written mid-race must cover every commit at or below
    their version (the dense log makes this structural): for EVERY
    version, snapshot-via-checkpoint equals brute-force full-log replay."""
    from concurrent.futures import ThreadPoolExecutor

    t = _table(spark, tmp_path, checkpoint_interval=2)
    dfs = [
        spark.createDataFrame([(10 * w, 1, f"w{w}")], "k long, seq long, v string")
        for w in range(6)
    ]
    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(lambda df: t.append(df, max_retries=50), dfs))
    versions = t._list_versions()
    assert versions == list(range(6))
    _, ckpts = t._log_listing()
    assert ckpts, "interval=2 over 6 commits must have produced checkpoints"
    for v in versions:
        full = {}
        for w in versions:
            if w > v:
                continue
            for a in t._read_commit(w)["actions"]:
                if "add" in a:
                    full[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    full.pop(a["remove"]["path"], None)
        assert {a["path"] for a in _live_adds(t, v)} == set(full), v


def test_txn_seen_reads_checkpoint_plus_tail_only(spark, tmp_path):
    """The exactly-once guard must not replay the whole log per probe:
    with per-app high-water marks folded into checkpoints, txn_seen
    touches one checkpoint + the post-checkpoint tail."""
    t = _table(spark, tmp_path, files_per_commit=1, checkpoint_interval=10)
    df = spark.createDataFrame([(1, 1, "x")], "k long, seq long, v string")
    n_commits = 24
    for b in range(n_commits):
        t.append(df, txn={"app_id": "app", "batch_id": b})
    assert t.latest_version() == n_commits - 1  # checkpoint at 20, tail 21..23

    reads = {"n": 0}
    orig = t._read_text

    def counted(p):
        reads["n"] += 1
        return orig(p)

    t._read_text = counted
    assert t.txn_seen("app", n_commits - 1) is True
    assert t.txn_seen("app", n_commits) is False
    assert t.txn_seen("ghost-app", 0) is False
    # 3 probes x (1 checkpoint + 3-commit tail) = 12; full replay would be
    # 3 x 24 = 72. Generous bound still catches O(commits) regressions.
    assert reads["n"] <= 15, reads["n"]
    t._read_text = orig
    # and replay is still exactly-once
    v_before = t.latest_version()
    t.append(df, txn={"app_id": "app", "batch_id": 5})
    assert t.latest_version() == v_before


def test_write_data_files_single_stats_job(spark, tmp_path):
    """Data files AND their stats must come from ONE fused pass (r15
    verdict #4: mapInArrow writes each partition's file while folding
    its stats, and the job output IS the stats) — the previous shape
    re-read the whole commit directory in a second job, crossing the
    scratch filesystem twice per commit. Job budget: the range
    sampling job + the single write+stats job."""
    t = _table(spark, tmp_path, files_per_commit=8)
    df = spark.createDataFrame(
        [(k, 1, f"v{k}") for k in range(400)], "k long, seq long, v string"
    )
    sc = spark.sparkContext
    sc.setJobGroup("acid-stats-probe", "stats job count probe")
    try:
        adds = t._write_data_files(df)
    finally:
        sc.setJobGroup("acid-stats-probe-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("acid-stats-probe")
    assert len(jobs) <= 3, jobs
    assert len(adds) >= 6
    assert sum(a["rows"] for a in adds) == 400
    for a in adds:
        assert a["min_key"] <= a["max_key"]


def test_dml_single_pass_job_budget(spark, tmp_path):
    """A change-feed DELETE and a change-feed UPDATE each run at most two
    Spark jobs: the scan of the candidate files (its shuffle-map job)
    and the write, in which one kernel per partition writes the
    replacement data file and the change images. The hit-scan and the
    eager checkpoint of the former plan are gone, and no commit writes
    more than files_per_commit data files."""
    t = _table(spark, tmp_path, files_per_commit=4, change_feed=True)
    t.append(
        spark.createDataFrame(
            [(k, 1, f"v{k}") for k in range(400)], "k long, seq long, v string"
        )
    )
    sc = spark.sparkContext

    def jobs(group, op):
        sc.setJobGroup(group, "predicate DML job budget")
        try:
            v = op()
        finally:
            sc.setJobGroup(group + "-done", "")
        return v, sc.statusTracker().getJobIdsForGroup(group)

    v, ids = jobs("acid-dml-delete", lambda: t.delete_where("k % 5 = 0"))
    assert len(ids) <= 2, ids
    h = t.history()[-1]
    assert h["n_remove"] == 4 and h["n_add"] <= 4, h
    assert {r.k for r in t.read().collect()} == {
        k for k in range(400) if k % 5
    }
    deleted = {(r.k, r._change_type) for r in t.read_row_changes(v - 1).collect()}
    assert deleted == {(k, "delete") for k in range(0, 400, 5)}

    v, ids = jobs(
        "acid-dml-update", lambda: t.update_where("k % 5 = 1", {"v": "'u'"})
    )
    assert len(ids) <= 2, ids
    h = t.history()[-1]
    assert h["n_remove"] == 4 and h["n_add"] <= 4, h
    assert {r.k: r.v for r in t.read().collect()} == {
        k: "u" if k % 5 == 1 else f"v{k}" for k in range(400) if k % 5
    }
    images = [(r.k, r.v, r._change_type) for r in t.read_row_changes(v - 1).collect()]
    assert sorted(images) == sorted(
        [(k, f"v{k}", "update_preimage") for k in range(1, 400, 5)]
        + [(k, "u", "update_postimage") for k in range(1, 400, 5)]
    )


def test_murmur3_preimages_match_spark_hash(spark):
    """The stats-derived range clustering routes rows to exact shuffle
    partitions through murmur3 preimage literals — valid only if the
    Python murmur3 reimplementation is bit-identical to the
    Murmur3Hash expression behind Spark's HashPartitioning. Pin it
    against F.hash over a range of ints, and pin the preimage property
    itself for several partition counts."""
    from data_pipeline_kafka_ek_spark.sources.acid import (
        _murmur3_hash_int32,
        _partition_preimages,
    )

    xs = list(range(256)) + [2**31 - 1, -5]
    got = (
        spark.range(1)
        .select(*[F.hash(F.lit(x).cast("int")).alias(f"h{i}") for i, x in enumerate(xs)])
        .first()
    )
    for i, x in enumerate(xs):
        assert got[f"h{i}"] == _murmur3_hash_int32(x), x
    for n in (1, 2, 4, 7, 16):
        pre = _partition_preimages(n)
        assert len(pre) == n
        assert [_murmur3_hash_int32(p) % n for p in pre] == list(range(n))


def test_stats_boundary_clustering_skips_sample_job(spark, tmp_path):
    """With range_sources (touched-file stats + change bounds, all free
    at merge time) the merge write derives its range boundaries
    driver-side: NO repartitionByRange sampling job — only the shuffle
    map and result jobs remain — and the written files stay key-range
    DISJOINT with every row present (bucketing is monotone in the key,
    so stats-pruning exactness never depended on the sampled
    boundaries)."""
    t = _table(spark, tmp_path, files_per_commit=4, change_feed=True)
    data = spark.createDataFrame(
        [(k, 1, f"v{k}") for k in range(1000)], "k long, seq long, v string"
    )
    stacked = data.withColumn("__src", F.lit(1))
    sc = spark.sparkContext
    sc.setJobGroup("acid-bound-probe", "stats boundary probe")
    try:
        adds, cdc_paths = t._write_merge_files(
            stacked, data.schema, None, False, range_sources=[(0, 999, 1000)]
        )
    finally:
        sc.setJobGroup("acid-bound-probe-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("acid-bound-probe")
    assert len(jobs) <= 2, jobs  # no sampling job
    assert len(adds) == 4  # uniform model splits a uniform key space evenly
    assert sum(a["rows"] for a in adds) == 1000
    spans = sorted((a["min_key"], a["max_key"]) for a in adds)
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans
    got = spark.read.parquet(*[a["path"] for a in adds])
    assert sorted(r.k for r in got.collect()) == list(range(1000))
    # rough balance under the uniform model: no file more than 2x fair share
    assert max(a["rows"] for a in adds) <= 500
    changes = spark.read.parquet(*cdc_paths)
    assert changes.count() == 1000


def test_vacuum_retention_and_watermark(spark, tmp_path):
    """vacuum(retain_versions=k) deletes data files only pre-retention
    snapshots reference, keeps shared files, sweeps aged temp debris, and
    reads below the watermark raise cleanly (never a mid-scan failure)."""
    import os

    t = _table(spark, tmp_path, files_per_commit=1)
    for i in range(5):
        # merges rewrite the single file each time -> 4 dead files by v4
        t.merge(
            spark.createDataFrame([(1, i + 1, f"s{i}")], "k long, seq long, v string")
        )
    assert t.latest_version() == 4
    dead_before = t.unreferenced_files()
    assert dead_before == []  # log still references history
    # a crashed writer's temp body
    orphan_tmp = os.path.join(str(tmp_path / "tbl"), "_txn_log", ".tmp-deadbeef")
    with open(orphan_tmp, "w") as fh:
        fh.write("{}")
    res = t.vacuum(retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0)
    assert res["tmp_files_deleted"] >= 1 and not os.path.exists(orphan_tmp)
    assert res["data_files_deleted"] == 3  # files live only at v0/v1/v2
    # retained versions still read
    assert _rows(t, version=4)[1] == (5, "s4")
    assert _rows(t, version=3)[1] == (4, "s3")
    # vacuumed versions raise cleanly
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=1)
    # a second vacuum is a no-op
    res2 = t.vacuum(retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0)
    assert res2["data_files_deleted"] == 0


def test_duplicate_replay_race_commits_once(spark, tmp_path):
    """Two replays of the SAME (app_id, batch_id) racing: the loser of
    the publish race must detect the winner's txn action on retry and
    return WITHOUT committing (the check-then-act hole: a single upfront
    txn_seen check passes for both)."""
    t_a = _table(spark, tmp_path)
    t_b = _table(spark, tmp_path)
    t_a.append(spark.createDataFrame([(1, 1, "base")], "k long, seq long, v string"))

    txn = {"app_id": "app", "batch_id": 7}
    orig = t_a._try_commit
    state = {"fired": False}

    def slow_publish(version, op, actions, txn_arg, schema=None):
        if not state["fired"]:
            state["fired"] = True
            # the duplicate replay fully lands while we're in flight
            t_b.merge(
                spark.createDataFrame([(2, 1, "dup")], "k long, seq long, v string"),
                txn=dict(txn),
            )
        return orig(version, op, actions, txn_arg, schema)

    t_a._try_commit = slow_publish
    t_a.merge(
        spark.createDataFrame([(2, 1, "dup")], "k long, seq long, v string"),
        txn=dict(txn),
    )
    # exactly one commit carries the txn
    with_txn = [h for h in t_a.history() if h["txn"] == txn]
    assert len(with_txn) == 1, t_a.history()
    assert _rows(t_a)[2] == (1, "dup")


def test_empty_table_schema_and_engine_ctas(spark, tmp_path):
    """CTAS onto a new path: initialize() publishes a schema-bearing
    create commit, read() of the empty table returns an empty DataFrame
    of that shape, the engine registers a queryable view, and a table
    whose rows were ALL deleted still reads (empty) and refreshes."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from data_pipeline_kafka_ek_spark.engine import Engine

    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("seq", LongType()),
            StructField("v", StringType()),
        ]
    )
    eng = Engine(spark)
    t = eng.create_acid_table(
        "acid_empty", str(tmp_path / "tbl"), key="k", order_col="seq",
        schema=schema,
    )
    assert t.latest_version() == 0
    assert t.read().schema == schema and t.read().count() == 0
    assert spark.sql("SELECT * FROM acid_empty").count() == 0
    # initialize is idempotent
    assert t.initialize(schema) == 0
    # first real write, then delete everything: still a valid empty snapshot
    t.merge(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    t.merge(
        spark.createDataFrame([(1, 2, "a", True)], "k long, seq long, v string, d boolean"),
        delete_col="d",
    )
    assert t.read().count() == 0
    assert [f.name for f in t.read().schema.fields] == ["k", "seq", "v"]
    assert eng.refresh_acid_table("acid_empty").count() == 0
    # a never-initialized, never-written table still raises
    t2 = TxnLogTable(spark, str(tmp_path / "t2"), key="k", order_col="seq")
    with pytest.raises(ValueError):
        t2.read()


def test_optimize_compacts_without_changing_data(spark, tmp_path):
    """optimize() must shrink the live file set to files_per_commit,
    leave row content bit-identical, keep time travel to the
    pre-compaction version working, and be a no-op below min_files."""
    t = _table(spark, tmp_path, files_per_commit=2)
    for i in range(6):
        t.append(
            spark.createDataFrame(
                [(10 * i + j, 1, f"v{i}.{j}") for j in range(5)],
                "k long, seq long, v string",
            )
        )
    pre_version = t.latest_version()
    before = _rows(t)
    assert t.file_count() >= 6  # one+ file per append
    v = t.optimize()
    assert v == pre_version + 1
    assert t.file_count() <= 2
    assert _rows(t) == before
    # history records the op; pre-compaction snapshot is untouched
    assert t.history()[-1]["op"] == "optimize"
    assert _rows(t, version=pre_version) == before
    # already compact: no-op, no empty commit
    assert t.optimize() is None
    assert t.latest_version() == v
    # stats pruning works on the compacted files
    t.merge(spark.createDataFrame([(0, 9, "upd")], "k long, seq long, v string"))
    c = t._read_commit(t.latest_version())
    assert sum(1 for a in c["actions"] if "remove" in a) == 1


def test_optimize_size_targeted_bin_packs_small_files(spark, tmp_path):
    """Size-targeted OPTIMIZE (the 100 TB mode): only files below the
    floor are selected and bin-packed into ~target-size outputs — files
    at/above the floor are NEVER rewritten, the rewrite is O(small-file
    debt), row content is bit-identical, and the pass converges (a
    second identical call is a no-op instead of re-binning forever)."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(
        spark.createDataFrame(
            [(100000 + i, 1, f"bulk{i}") for i in range(40000)],
            "k long, seq long, v string",
        )
    )
    for i in range(6):
        t.append(
            spark.createDataFrame(
                [(10 * i + j, 1, f"v{i}.{j}") for j in range(5)],
                "k long, seq long, v string",
            )
        )
    adds = _live_adds(t)
    assert all(a.get("bytes") for a in adds), "adds must record bytes"
    large = max(adds, key=lambda a: a["bytes"])
    smalls = [a for a in adds if a["path"] != large["path"]]
    assert len(smalls) == 6
    total = sum(a["bytes"] for a in smalls)
    floor = max(a["bytes"] for a in smalls) + 1
    target = max(-(-total // 2), floor)  # 2 bins, floor <= target
    assert floor <= large["bytes"], "test setup: bulk file must be large"
    before = _rows(t)

    v = t.optimize(target_file_bytes=target, min_file_bytes=floor)
    assert v is not None and t.history()[-1]["op"] == "optimize"
    c = t._read_commit(v)
    removed = {a["remove"]["path"] for a in c["actions"] if "remove" in a}
    added = [a["add"] for a in c["actions"] if "add" in a]
    # exactly the small files were rewritten; the large file is untouched
    assert removed == {a["path"] for a in smalls}
    assert large["path"] in {a["path"] for a in _live_adds(t)}
    # outputs cluster at the target: bin count is ceil(total/target)
    assert len(added) == -(-total // target) == 2
    assert all(a["bytes"] and a["bytes"] < large["bytes"] for a in added)
    assert _rows(t) == before
    # convergence: the surviving bins are too few to re-bin
    assert t.optimize(target_file_bytes=target, min_file_bytes=floor) is None

    # rewrite budget: only the smallest files up to the cap are selected
    for i in range(6, 10):
        t.append(
            spark.createDataFrame(
                [(10 * i + j, 1, f"v{i}.{j}") for j in range(5)],
                "k long, seq long, v string",
            )
        )
    cand = sorted(
        (a["bytes"] for a in _live_adds(t) if a["bytes"] < floor)
    )
    budget = cand[0] + cand[1] + cand[2] + 1  # room for ~3 files
    v2 = t.optimize(
        target_file_bytes=target, min_file_bytes=floor,
        max_rewrite_bytes=budget,
    )
    assert v2 is not None
    c2 = t._read_commit(v2)
    n_rm = sum(1 for a in c2["actions"] if "remove" in a)
    assert 2 <= n_rm <= 4
    assert _rows(t) == before | {
        10 * i + j: (1, f"v{i}.{j}") for i in range(6, 10) for j in range(5)
    }


def test_optimize_honors_recorded_size_policy(spark, tmp_path):
    """A table that declared optimize.target_file_bytes runs every plain
    optimize()/OPTIMIZE statement through the bounded bin-packed pass
    (same sticking rule as zorder.columns): the large file is never
    rewritten by maintenance, and DESCRIBE DETAIL reports the snapshot's
    total size from the recorded add stats (zero data jobs)."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "szp", str(tmp_path / "szp"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(
        spark.createDataFrame(
            [(100000 + i, 1, f"bulk{i}") for i in range(40000)],
            "k long, seq long, v string",
        )
    )
    large = max(_live_adds(t), key=lambda a: a["bytes"])
    t.set_property("optimize.target_file_bytes", str(large["bytes"]))
    for i in range(5):
        t.append(
            spark.createDataFrame(
                [(i, 1, f"s{i}")], "k long, seq long, v string"
            )
        )
    assert eng.sql("OPTIMIZE szp").first().version is not None
    assert large["path"] in {a["path"] for a in _live_adds(t)}
    d = eng.sql("DESCRIBE DETAIL szp").first()
    assert d.size_bytes == sum(a["bytes"] for a in _live_adds(t))
    assert d.num_rows == 40005


def test_auto_optimize_is_size_bounded(spark, tmp_path):
    """The inline auto-compaction after a write routes through the
    size-targeted variant: a large file in the snapshot is never part of
    the inline rewrite — only the small-file debt compacts."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(
        spark.createDataFrame(
            [(100000 + i, 1, f"bulk{i}") for i in range(40000)],
            "k long, seq long, v string",
        )
    )
    large = max(_live_adds(t), key=lambda a: a["bytes"])
    t.set_property("auto_optimize.file_threshold", "3")
    # scale the bin target to the test data: the floor (target/2) sits
    # above every 1-row file but below the bulk file
    t.set_property("auto_optimize.target_file_bytes", str(large["bytes"]))
    for i in range(5):
        t.append(
            spark.createDataFrame(
                [(i, 1, f"s{i}")], "k long, seq long, v string"
            )
        )
    ops = [h["op"] for h in t.history()]
    assert "optimize" in ops, "auto-compaction did not fire"
    # the large file survived every inline pass untouched
    assert large["path"] in {a["path"] for a in _live_adds(t)}
    assert t.read().count() == 40005

    # a snapshot stuck above the threshold with NO compactable debt
    # (every file at/above the floor) must not pay a no-op optimize()
    # on each write: the guard pre-checks candidates from the state it
    # already folded and skips the call entirely
    t.set_property("auto_optimize.file_threshold", "0")
    t.set_property("auto_optimize.target_file_bytes", "1")  # floor = 0
    calls = {"n": 0}
    orig = t.optimize

    def counting_optimize(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    t.optimize = counting_optimize
    try:
        t.append(
            spark.createDataFrame(
                [(9001, 1, "tail")], "k long, seq long, v string"
            )
        )
    finally:
        t.optimize = orig
    assert calls["n"] == 0, "no-op inline optimize was not skipped"


def test_read_changes_incremental_feed(spark, tmp_path):
    """read_changes(since) is a consumable changelog: appends surface
    exactly the inserted rows, merges surface the post-image of the
    rewritten range, a cursor loop sees every commit exactly once, and
    replay below the vacuum watermark raises."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"))
    t.append(spark.createDataFrame([(3, 1, "c")], "k long, seq long, v string"))
    t.merge(spark.createDataFrame([(2, 5, "b2")], "k long, seq long, v string"))

    feed = t.read_changes(-1)
    assert set(feed.columns) == {"k", "seq", "v", "_commit_version", "_commit_op"}
    by_version = {
        (r._commit_version, r.k): (r._commit_op, r.seq, r.v) for r in feed.collect()
    }
    assert by_version[(0, 1)] == ("append", 1, "a")
    assert by_version[(1, 3)] == ("append", 1, "c")
    # merge post-image: the rewritten file's range (keys 1 and 2 were
    # clustered together at files_per_commit=1? no — one file per commit,
    # so the whole table rewrote only the touched file holding key 2)
    assert by_version[(2, 2)] == ("merge", 5, "b2")

    # cursor semantics: nothing before/at the cursor reappears
    tail = t.read_changes(1)
    assert {r._commit_version for r in tail.collect()} == {2}
    # caught-up consumer: typed empty frame, not an error
    assert t.read_changes(t.latest_version()).count() == 0
    # vacuumed history cannot be replayed
    for i in range(4, 10):
        t.merge(spark.createDataFrame([(2, i + 10, f"s{i}")], "k long, seq long, v string"))
    t.vacuum(retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0)
    with pytest.raises(ValueError, match="vacuum"):
        t.read_changes(0)
    # within retention the feed still serves
    assert t.read_changes(t.latest_version() - 1).count() >= 1


def test_merge_schema_evolution(spark, tmp_path):
    """A change set with NEW columns widens the table: old rows surface
    NULL for the new column, the recorded schema advances, time travel
    to a pre-evolution version reads the OLD schema, and a change row
    missing a column upserts NULL there (the row image IS the change —
    CDC post-image semantics)."""
    t = _table(spark, tmp_path)
    t.append(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"
        )
    )
    pre = t.latest_version()
    # evolve: new column `score`
    t.merge(
        spark.createDataFrame(
            [(2, 5, "b2", 0.9), (3, 1, "c", 0.1)],
            "k long, seq long, v string, score double",
        )
    )
    got = {r.k: (r.seq, r.v, r.score) for r in t.read().collect()}
    assert got[2] == (5, "b2", 0.9) and got[3] == (1, "c", 0.1)
    assert got[1] == (1, "a", None)  # untouched old row: NULL backfill
    assert [f.name for f in t.read().schema.fields] == ["k", "seq", "v", "score"]
    # pre-evolution time travel reads the old, narrower schema
    assert [f.name for f in t.read(version=pre).schema.fields] == ["k", "seq", "v"]
    # a later change row MISSING the evolved column upserts NULL there
    t.merge(spark.createDataFrame([(2, 9, "b3")], "k long, seq long, v string"))
    got2 = {r.k: (r.seq, r.v, r.score) for r in t.read().collect()}
    assert got2[2] == (9, "b3", None)
    assert got2[3] == (1, "c", 0.1)


def test_read_deltas_signed_feed(spark, tmp_path):
    """read_deltas: adds carry +1, removed-file rows -1, optimize commits
    are skipped as weight-neutral, and sum(_weight) per key equals the
    key's live row count."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"))
    t.merge(spark.createDataFrame([(2, 5, "b2")], "k long, seq long, v string"))
    t.optimize(min_files=0) if t.file_count() > 1 else None
    d = t.read_deltas(-1)
    net = {
        r.k: r.net
        for r in d.groupBy("k").agg(F.sum("_weight").alias("net")).collect()
    }
    assert net == {1: 1, 2: 1}
    # the retraction is visible: key 2's old image appears with -1
    rows2 = {(r.seq, r.v, r._weight) for r in d.filter(F.col("k") == 2).collect()}
    assert (1, "b", -1) in rows2 and (5, "b2", 1) in rows2
    # no deltas from optimize commits
    assert "optimize" not in {
        t._read_commit(r._commit_version)["op"] for r in d.collect()
    }


def test_incremental_aggregate_equals_recompute(spark, tmp_path):
    """The flagship equivalence: after an arbitrary append/merge/delete
    history folded through refresh() at arbitrary points, the maintained
    aggregate equals a full groupBy recompute of the source — and a
    replayed refresh is a no-op (exactly-once cursor)."""
    import random

    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    rng = random.Random(17)
    src = _table(spark, tmp_path, files_per_commit=2)
    mv = IncrementalAggregate(
        src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"],
        files_per_commit=2,
    )

    def recompute():
        return {
            (r.grp): (r.n, r.s)
            for r in src.read()
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
            .collect()
        }

    def mv_state():
        return {r.grp: (r.n_rows, r.sum_x) for r in mv.read().collect()}

    seq = 0
    schema = "k long, seq long, grp string, x double, dead boolean"
    for step in range(6):
        batch = []
        for _ in range(rng.randint(3, 8)):
            seq += 1
            batch.append(
                (
                    rng.randint(1, 12),
                    seq,
                    rng.choice(["a", "b", "c"]),
                    float(rng.randint(1, 9)),
                    rng.random() < 0.15,
                )
            )
        df = spark.createDataFrame(batch, schema)
        if step % 3 == 0:
            src.append(df.drop("dead"))
        else:
            src.merge(df, delete_col="dead")
        if step % 2 == 1:  # refresh only every other step: spans fold
            mv.refresh()
            assert mv_state() == recompute(), f"step {step}"
    mv.refresh()
    assert mv_state() == recompute()
    v_final = mv.target.latest_version()
    assert mv.refresh() is None  # caught up
    assert mv.target.latest_version() == v_final
    # cursor survives a fresh handle (durable in the target's log)
    mv2 = IncrementalAggregate(
        src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"],
        files_per_commit=2,
    )
    assert mv2.cursor() == mv.cursor() == src.latest_version()
    assert mv2.refresh() is None


def test_stream_changes_replays_commit_feed(spark, tmp_path):
    """stream_changes: the ACID table's T11 dual read — the change feed
    consumed as a real Structured Streaming source, one micro-batch per
    commit in commit order, such that a streaming stateful aggregate
    over it equals the batch aggregate over read_changes."""
    from data_pipeline_kafka_ek_spark.streaming import runtime

    t = _table(spark, tmp_path, files_per_commit=1)
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(10 * i + j, 1, f"v{i}{j}") for j in range(4)],
                "k long, seq long, v string",
            )
        )
    t.merge(spark.createDataFrame([(0, 9, "upd")], "k long, seq long, v string"))

    stream = t.stream_changes(-1)
    assert stream.isStreaming
    got = runtime.run_available_now(
        stream.groupBy("_commit_version").count(), output_mode="complete"
    )
    per_commit = {r._commit_version: r["count"] for r in got.collect()}
    batch = {
        r._commit_version: r.n
        for r in t.read_changes(-1)
        .groupBy("_commit_version")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_commit == batch and set(per_commit) == {0, 1, 2, 3}
    # cursor-style consumption: only commits past the cursor replay
    tail = runtime.run_available_now(
        t.stream_changes(2).groupBy("_commit_version").count(),
        output_mode="complete",
    )
    assert {r._commit_version for r in tail.collect()} == {3}


def test_concurrent_merges_disjoint_and_overlapping(spark, tmp_path):
    """Thread-level MERGE contention (the round-7 advisor's gap was an
    untested in-flight merge race): N writers merge concurrently — some
    on disjoint key ranges, some overlapping. Every writer either lands
    or raises ConcurrentModification; after retrying the losers to
    completion, the table equals the latest-per-key fold of everything
    that committed, with exactly one row per key and a dense version
    sequence."""
    from concurrent.futures import ThreadPoolExecutor

    t = _table(spark, tmp_path, files_per_commit=4)
    t.append(
        spark.createDataFrame(
            [(k, 0, "base") for k in range(1, 41)], "k long, seq long, v string"
        )
    )
    batches = [
        # three disjoint ranges + two overlapping the first range
        [(k, 10, f"w0.{k}") for k in range(1, 11)],
        [(k, 10, f"w1.{k}") for k in range(15, 25)],
        [(k, 10, f"w2.{k}") for k in range(30, 40)],
        [(k, 20, f"w3.{k}") for k in range(5, 9)],
        [(k, 30, f"w4.{k}") for k in range(6, 8)],
    ]

    def run(rows):
        df = spark.createDataFrame(rows, "k long, seq long, v string")
        handle = TxnLogTable(
            spark, str(tmp_path / "tbl"), key="k", order_col="seq"
        )
        for _ in range(12):  # retry ConcurrentModification to completion
            try:
                return handle.merge(df, max_retries=12)
            except ConcurrentModification:
                continue
        raise AssertionError("merge never landed")

    with ThreadPoolExecutor(max_workers=5) as ex:
        versions = list(ex.map(run, batches))
    assert len(set(versions)) == 5
    vs = t._list_versions()
    assert vs == list(range(len(vs))), vs  # dense, no gaps
    # oracle: latest-per-key over base + all batches
    expect = {k: (0, "base") for k in range(1, 41)}
    for b in batches:
        for k, s, v in b:
            if s > expect.get(k, (-1,))[0]:
                expect[k] = (s, v)
    assert _rows(t) == expect
    dup = t.read().groupBy("k").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_vacuum_age_guard_protects_inflight_files(spark, tmp_path):
    """A data file written but not yet referenced by a published commit
    (the write-then-publish window) must survive vacuum: with the
    default-style min_age_s, fresh unreferenced files are kept; with
    min_age_s=0 (maintenance on a quiesced table) they are reclaimed."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.merge(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    # simulate an in-flight writer: files on disk, commit not yet published
    inflight = t._write_data_files(
        spark.createDataFrame([(2, 1, "pending")], "k long, seq long, v string")
    )
    assert inflight
    res = t.vacuum(retain_versions=1, retain_tmp_s=3600.0, min_age_s=3600.0)
    assert res["data_files_deleted"] == 0
    # the in-flight commit can still publish and read correctly
    v = t.latest_version() + 1
    assert t._try_commit(v, "append", [{"add": a} for a in inflight], None)
    assert _rows(t)[2] == (1, "pending")


def test_merge_null_keys_upsert_exactly_once(spark, tmp_path):
    """NULL merge keys are KEYS (groupBy/window semantics), not
    absences: an all-NULL change set must apply (not be dropped as
    empty), a NULL-key upsert must replace the old NULL row (null-safe
    key matching — plain equality duplicated it), and a data file
    holding ONLY NULL keys (min/max stats both None) must not crash
    later range pruning."""
    t = _table(spark, tmp_path, files_per_commit=2)
    t.merge(
        spark.createDataFrame(
            [(None, 1, "n0"), (1, 1, "a"), (2, 1, "b")],
            "k long, seq long, v string",
        )
    )
    # all-NULL change set: the upsert must land, not no-op
    t.merge(
        spark.createDataFrame([(None, 5, "n1")], "k long, seq long, v string")
    )
    rows = {r.k: (r.seq, r.v) for r in t.read().collect()}
    assert rows[None] == (5, "n1") and rows[1] == (1, "a")
    # exactly one row for the NULL key after repeated upserts
    t.merge(
        spark.createDataFrame(
            [(None, 9, "n2"), (3, 1, "c")], "k long, seq long, v string"
        )
    )
    nulls = t.read().filter(F.col("k").isNull()).collect()
    assert len(nulls) == 1 and (nulls[0].seq, nulls[0].v) == (9, "n2")
    # a non-NULL-range merge after NULL-only files exist: no TypeError,
    # NULL row untouched
    t.merge(spark.createDataFrame([(1, 9, "a2")], "k long, seq long, v string"))
    rows = {r.k: (r.seq, r.v) for r in t.read().collect()}
    assert rows == {None: (9, "n2"), 1: (9, "a2"), 2: (1, "b"), 3: (1, "c")}
    # NULL-key delete tombstones the row
    t.merge(
        spark.createDataFrame(
            [(None, 11, "gone", True)], "k long, seq long, v string, d boolean"
        ),
        delete_col="d",
    )
    assert t.read().filter(F.col("k").isNull()).count() == 0


def test_change_feed_spans_schema_evolution(spark, tmp_path):
    """read_changes / stream_changes / read_deltas across an evolution
    boundary: pre-evolution commits surface NULL for the new column and
    the union widens instead of raising."""
    t = _table(spark, tmp_path)
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    t.merge(
        spark.createDataFrame(
            [(2, 1, "b", 0.5)], "k long, seq long, v string, score double"
        )
    )
    feed = t.read_changes(-1)
    got = {r.k: (r._commit_version, r.score) for r in feed.collect()}
    assert got[1] == (0, None) and got[2] == (1, 0.5)
    deltas = t.read_deltas(-1)
    assert {r.k for r in deltas.collect()} == {1, 2}
    from data_pipeline_kafka_ek_spark.streaming import runtime

    rev = runtime.run_available_now(
        t.stream_changes(-1).groupBy("_commit_version").count(),
        output_mode="complete",
    )
    assert {r._commit_version for r in rev.collect()} == {0, 1}


def test_incremental_refresh_advances_cursor_over_datafree_spans(spark, tmp_path):
    """A span containing only optimize commits yields no deltas; refresh
    must still advance its durable cursor (via a data-free txn commit)
    and return None — not loop replaying the span forever."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    src = _table(spark, tmp_path, files_per_commit=1)
    for i in range(3):
        src.append(
            spark.createDataFrame([(i, 1, "g", 1.0)], "k long, seq long, grp string, x double")
        )
    mv = IncrementalAggregate(src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"])
    assert mv.refresh() is not None
    assert mv.cursor() == src.latest_version()
    assert src.optimize() is not None  # data-free span for the MV
    assert mv.refresh() is None
    assert mv.cursor() == src.latest_version()  # cursor advanced
    assert mv.refresh() is None  # caught up, no replay loop
    assert {r.grp: (r.n_rows, r.sum_x) for r in mv.read().collect()} == {
        "g": (3, 3.0)
    }


def test_read_folds_log_once(spark, tmp_path):
    """read() must make ONE checkpoint+tail metadata pass (_fold_log):
    each tail commit file is read at most once per snapshot read — the
    double-replay shape (adds pass + schema pass) regressed to 2x tail
    I/O once."""
    t = _table(spark, tmp_path, checkpoint_interval=5)
    for i in range(8):  # checkpoint at 5, tail 6..7
        t.append(
            spark.createDataFrame([(i, 1, f"v{i}")], "k long, seq long, v string")
        )
    reads = []
    orig = t._read_text

    def counted(p):
        reads.append(p)
        return orig(p)

    t._read_text = counted
    t.read()
    t._read_text = orig
    commit_reads = [p for p in reads if p.endswith(".json") and "checkpoint" not in p]
    assert len(commit_reads) == len(set(commit_reads)), commit_reads
    ckpt_reads = [p for p in reads if p.endswith(".checkpoint.json")]
    assert len(ckpt_reads) <= 1, ckpt_reads


def test_merge_reads_recorded_schema_after_evolution(spark, tmp_path):
    """A merge whose touched set mixes pre- and post-evolution files must
    read them under the RECORDED wide schema, not an arbitrary parquet
    footer: footer inference from a narrow file silently drops the
    evolved column from the rewrite (and records the narrowed schema),
    losing the column permanently once vacuum reclaims the originals."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string")
    )
    # schema evolution: a non-overlapping merge adds `extra`
    t.merge(
        spark.createDataFrame(
            [(100, 1, "z", "E100"), (101, 1, "y", "E101")],
            "k long, seq long, v string, extra string",
        )
    )
    # touches BOTH the narrow file (key 1) and the wide file (key 100)
    t.merge(
        spark.createDataFrame([(1, 2, "a2"), (100, 2, "z2")], "k long, seq long, v string")
    )
    got = t.read()
    assert "extra" in got.columns
    by_k = {r.k: r for r in got.collect()}
    # the untouched-key row of the rewritten wide file keeps its value
    assert by_k[101].extra == "E101"
    # contested keys upsert NULL for the missing column (row image IS the change)
    assert by_k[1].extra is None and by_k[100].extra is None
    assert by_k[1].v == "a2" and by_k[100].v == "z2"


def test_optimize_reads_recorded_schema_after_evolution(spark, tmp_path):
    """optimize() compacts a mixed narrow/wide live set: same evolution
    hazard as merge — the rewrite must carry the recorded wide schema."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    t.append(spark.createDataFrame([(2, 1, "b")], "k long, seq long, v string"))
    t.merge(
        spark.createDataFrame(
            [(100, 1, "z", "E100")], "k long, seq long, v string, extra string"
        )
    )
    assert t.file_count() == 3
    assert t.optimize(min_files=1) is not None
    got = t.read()
    assert "extra" in got.columns
    by_k = {r.k: r for r in got.collect()}
    assert by_k[100].extra == "E100"
    assert by_k[1].extra is None and by_k[2].extra is None
    # the compaction commit recorded the wide schema, so future merges
    # keep evolving from it
    assert "extra" in [f.name for f in t.read().schema.fields]


def test_vacuum_watermark_never_moves_backwards(spark, tmp_path):
    """A later vacuum with a LARGER retain_versions must not move the
    watermark below versions whose files were already reclaimed — those
    reads would pass the check and die mid-scan with FileNotFound."""
    t = _table(spark, tmp_path, files_per_commit=1)
    for i in range(5):
        t.merge(
            spark.createDataFrame([(1, i + 1, f"s{i}")], "k long, seq long, v string")
        )
    t.vacuum(retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0)
    assert t._vacuum_watermark() == 3
    # larger retention later: computed wm would be 0 — marker must hold
    t.vacuum(retain_versions=100, retain_tmp_s=0.0, min_age_s=0.0)
    assert t._vacuum_watermark() == 3
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=1)


def test_txn_expect_guard_rejects_stale_cursor(spark, tmp_path):
    """merge/record_txn with txn ``expect`` are a compare-and-set on the
    app's high-water mark: a writer whose input span was read against a
    stale cursor raises CursorAdvanced instead of double-applying, and
    the committed txn action never carries the transient ``expect``."""
    from data_pipeline_kafka_ek_spark.sources.acid import CursorAdvanced

    t = _table(spark, tmp_path)
    t.append(
        spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"),
        txn={"app_id": "mv", "batch_id": 0},
    )
    ch = spark.createDataFrame([(1, 2, "b")], "k long, seq long, v string")
    with pytest.raises(CursorAdvanced):
        t.merge(ch, txn={"app_id": "mv", "batch_id": 5, "expect": -1})
    with pytest.raises(CursorAdvanced):
        t.record_txn("mv", 6, expect=-1)
    # matching expect commits, and the durable action is expect-free
    v = t.merge(ch, txn={"app_id": "mv", "batch_id": 5, "expect": 0})
    commit = json.loads(t._read_text(t._commit_path(v)))
    assert commit["txn"] == {"app_id": "mv", "batch_id": 5}
    assert t.txn_high_water("mv") == 5
    v2 = t.record_txn("mv", 7, expect=5)
    commit2 = json.loads(t._read_text(t._commit_path(v2)))
    assert commit2["txn"] == {"app_id": "mv", "batch_id": 7}


def test_concurrent_refresh_does_not_double_apply(spark, tmp_path):
    """The ADVICE race: a refresher that read its cursor BEFORE a
    concurrent refresh committed passes the batch-id guard (its batch id
    exceeds the new high-water mark) and would re-fold the span the
    other refresh already applied. The ``expect`` compare-and-set aborts
    that commit; refresh() restarts from the advanced cursor and folds
    only the remainder — aggregate stays equal to a recompute."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    src = _table(spark, tmp_path, files_per_commit=1)
    src.append(
        spark.createDataFrame(
            [(1, 1, "g", 2.0), (2, 1, "h", 3.0)], "k long, seq long, grp string, x double"
        )
    )
    mv1 = IncrementalAggregate(src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"])
    mv2 = IncrementalAggregate(src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"])
    assert mv1.refresh() is not None
    src.append(
        spark.createDataFrame([(3, 2, "g", 5.0)], "k long, seq long, grp string, x double")
    )
    # mv2 read its cursor BEFORE mv1's next commit (simulated: first
    # cursor() call returns the stale pre-refresh value)
    stale = -1  # what a refresher that never saw mv1's commit would read
    real_cursor = mv2.cursor
    calls = {"n": 0}

    def racing_cursor():
        calls["n"] += 1
        return stale if calls["n"] == 1 else real_cursor()

    mv2.cursor = racing_cursor
    mv2.refresh()  # stale attempt -> CursorAdvanced -> restart on remainder
    assert calls["n"] >= 2
    got = {r.grp: (r.n_rows, r.sum_x) for r in mv2.read().collect()}
    assert got == {"g": (2, 7.0), "h": (1, 3.0)}  # NOT double-applied


def test_empty_span_refresh_launches_zero_spark_jobs(spark, tmp_path):
    """A refresh over a span of only optimize/txn commits must detect
    emptiness from the commit JSONs alone (the actions carry the file
    sets) — zero Spark jobs — while still advancing the durable cursor."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    src = _table(spark, tmp_path, files_per_commit=1)
    for i in range(3):
        src.append(
            spark.createDataFrame(
                [(i, 1, "g", 1.0)], "k long, seq long, grp string, x double"
            )
        )
    mv = IncrementalAggregate(src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"])
    assert mv.refresh() is not None
    assert src.optimize() is not None  # data-free span for the MV
    sc = spark.sparkContext
    sc.setJobGroup("mv-empty-span-probe", "empty-span refresh job count")
    try:
        assert mv.refresh() is None
    finally:
        sc.setJobGroup("mv-empty-span-probe-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("mv-empty-span-probe")
    assert list(jobs) == [], jobs
    assert mv.cursor() == src.latest_version()


def test_row_level_change_feed_is_o_changed_rows(spark, tmp_path):
    """change_feed=True: a merge touching a handful of keys in a large
    file must move O(changed rows) through read_deltas/read_changes —
    the pre/post images of the changed keys — never retract-and-re-add
    the whole rewritten file."""
    t = TxnLogTable(
        spark, str(tmp_path / "tbl"), key="k", order_col="seq",
        files_per_commit=1, change_feed=True,
    )
    big = spark.createDataFrame(
        [(k, 1, f"v{k}") for k in range(400)], "k long, seq long, v string"
    )
    t.append(big)  # v0: one 400-row file
    ch = spark.createDataFrame(
        [(5, 2, "u5", False), (6, 2, "u6", False), (7, 2, "u7", False),
         (900, 2, "new", False), (8, 2, None, True)],
        "k long, seq long, v string, dead boolean",
    )
    t.merge(ch, delete_col="dead")  # v1: 3 updates + 1 insert + 1 delete
    deltas = t.read_deltas(0)
    rows = deltas.collect()
    # 3 updates (pre+post) + 1 insert + 1 delete pre-image = 8 rows,
    # NOT ~800 (whole-file retraction + re-add)
    assert len(rows) == 8, len(rows)
    by_weight = {}
    for r in rows:
        by_weight.setdefault(r._weight, []).append(r.k)
    assert sorted(by_weight[1]) == [5, 6, 7, 900]
    assert sorted(by_weight[-1]) == [5, 6, 7, 8]
    # post-image feed: only the changed keys' new rows
    changed = t.read_changes(0)
    got = {r.k: r.v for r in changed.collect()}
    assert got == {5: "u5", 6: "u6", 7: "u7", 900: "new"}
    # the signed fold over the feed reproduces the table's net change
    assert t.read().count() == 400  # 400 - 1 delete + 1 insert
    assert deltas.agg(F.sum("_weight")).collect()[0][0] == 0


def test_change_file_classification_on_disk(spark, tmp_path):
    """The cdc files themselves carry Delta-CDF _change_type tags with
    the right classification per key (insert vs update pre/post vs
    delete), and a key whose STORED row out-orders the change set
    contributes no image at all."""
    t = TxnLogTable(
        spark, str(tmp_path / "tbl"), key="k", order_col="seq",
        files_per_commit=1, change_feed=True,
    )
    t.append(
        spark.createDataFrame(
            [(1, 5, "keep"), (2, 1, "old2"), (3, 1, "old3")],
            "k long, seq long, v string",
        )
    )
    v = t.merge(
        spark.createDataFrame(
            [(1, 2, "loser", False),   # stored seq 5 wins: NO image
             (2, 2, "new2", False),    # update
             (3, 2, None, True),       # delete
             (4, 2, "new4", False)],   # insert
            "k long, seq long, v string, dead boolean",
        ),
        delete_col="dead",
    )
    commit = json.loads(t._read_text(t._commit_path(v)))
    cdc_paths = [a["cdc"]["path"] for a in commit["actions"] if "cdc" in a]
    assert cdc_paths
    images = spark.read.parquet(*cdc_paths).collect()
    tagged = sorted((r.k, r._change_type) for r in images)
    assert tagged == [
        (2, "update_postimage"),
        (2, "update_preimage"),
        (3, "delete"),
        (4, "insert"),
    ]
    pre = {r.k: r.v for r in images if r._change_type == "update_preimage"}
    assert pre == {2: "old2"}


def test_incremental_refresh_over_change_feed_matches_recompute(spark, tmp_path):
    """The flagship equivalence again, with the SOURCE writing row-level
    change files: the incremental fold consumes pre/post images instead
    of whole-file retractions and still equals a full recompute at every
    refresh point."""
    import random

    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    rng = random.Random(43)
    src = TxnLogTable(
        spark, str(tmp_path / "tbl"), key="k", order_col="seq",
        files_per_commit=2, change_feed=True,
    )
    mv = IncrementalAggregate(
        src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"],
        files_per_commit=2,
    )

    def recompute():
        return {
            (r.grp): (r.n, r.s)
            for r in src.read()
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
            .collect()
        }

    seq = 0
    schema = "k long, seq long, grp string, x double, dead boolean"
    for step in range(5):
        batch = []
        for _ in range(rng.randint(3, 8)):
            seq += 1
            batch.append(
                (rng.randint(1, 10), seq, rng.choice(["a", "b"]),
                 float(rng.randint(1, 9)), rng.random() < 0.2)
            )
        df = spark.createDataFrame(batch, schema)
        if step % 3 == 0:
            src.append(df.drop("dead"))
        else:
            src.merge(df, delete_col="dead")
        mv.refresh()
        got = {r.grp: (r.n_rows, r.sum_x) for r in mv.read().collect()}
        assert got == recompute(), f"step {step}"


def test_feed_plan_size_bounded_by_schema_epochs(spark, tmp_path):
    """A feed replaying 200 commits must build O(schema epochs) parquet
    scan nodes (multi-path scans + a broadcast path->version map), not
    one scan per commit — the thousand-node union plan a full-history
    replay used to build."""
    t = _table(spark, tmp_path, checkpoint_interval=10**6)
    # fabricate 200 one-file commits from ONE spark write: 200 partitions
    # -> 200 part files, then hand-author one commit per file
    base = str(tmp_path / "tbl")
    data_dir = f"{base}/files/c-fab"
    df = spark.createDataFrame(
        [(k, 1, f"v{k}") for k in range(200)], "k long, seq long, v string"
    )
    df.repartition(200).write.parquet(data_dir)  # round-robin: 200 1-row files
    stats = (
        spark.read.schema(df.schema).parquet(data_dir)
        .groupBy(F.input_file_name().alias("p"))
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    narrow = df.schema.json()
    from pyspark.sql.types import StructType as _ST

    wide = _ST.fromJson(json.loads(narrow)).add("extra", "string").json()
    n_commits = len(stats)
    assert n_commits >= 100  # enough one-file commits to make the point
    per_version_rows = {}
    for i, r in enumerate(sorted(stats, key=lambda r: r["p"])):
        from data_pipeline_kafka_ek_spark.sources.acid import _canon

        add = {
            "path": _canon(r["p"]), "min_key": r["lo"], "max_key": r["hi"],
            "rows": r["n"], "null_keys": 0,
        }
        per_version_rows[i] = r["n"]
        # schema evolves once halfway: exactly two epochs
        assert t._try_commit(
            i, "append", [{"add": add}], None,
            narrow if i < n_commits // 2 else wide,
        )
    assert t.latest_version() == n_commits - 1

    feed = t.read_changes(-1)
    plan = feed._jdf.queryExecution().executedPlan().toString()
    n_scans = plan.count("Scan parquet")
    assert n_scans <= 4, f"expected O(epochs) scans, got {n_scans}"
    rows = feed.collect()
    assert len(rows) == 200
    got_per_version = {}
    for r in rows:
        got_per_version[r._commit_version] = (
            got_per_version.get(r._commit_version, 0) + 1
        )
    assert got_per_version == per_version_rows  # every row tagged right
    # rows of the widened epoch surface the evolved column as NULL
    assert {r.extra for r in rows} == {None}

    deltas = t.read_deltas(-1)
    dplan = deltas._jdf.queryExecution().executedPlan().toString()
    assert dplan.count("Scan parquet") <= 4
    assert deltas.count() == 200
    assert deltas.agg(F.sum("_weight")).collect()[0][0] == 200


def test_read_row_changes_replicates_table(spark, tmp_path):
    """The typed row-level feed is a replication primitive: merging its
    {insert, update_postimage, delete} subset into a target keyed the
    same way — order_col = _commit_version, delete flag from
    _change_type — converges the replica to the source state, applied
    incrementally from a cursor, across schema evolution."""
    src = TxnLogTable(
        spark, str(tmp_path / "a"), key="k", order_col="seq",
        files_per_commit=2, change_feed=True,
    )
    dst = TxnLogTable(
        spark, str(tmp_path / "b"), key="k", order_col="_commit_version",
        files_per_commit=2,
    )

    def replicate(cursor: int) -> int:
        head = src.latest_version()
        rows = src.read_row_changes(cursor).filter(
            F.col("_commit_version") <= head
        )
        changes = (
            rows.filter(
                F.col("_change_type").isin(
                    "insert", "update_postimage", "delete"
                )
            )
            .withColumn("__dead", F.col("_change_type") == "delete")
            .drop("_change_type")
        )
        dst.merge(changes, delete_col="__dead")
        return head

    src.append(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")], "k long, seq long, v string"
        )
    )
    cur = replicate(-1)
    src.merge(
        spark.createDataFrame(
            [(2, 2, "b2", False), (3, 2, None, True), (4, 2, "d", False)],
            "k long, seq long, v string, dead boolean",
        ),
        delete_col="dead",
    )
    # schema evolution mid-stream + another delete wave
    src.merge(
        spark.createDataFrame(
            [(1, 3, "a3", "X", False), (4, 3, None, None, True)],
            "k long, seq long, v string, extra string, dead boolean",
        ),
        delete_col="dead",
    )
    cur = replicate(cur)
    src.optimize(min_files=1)
    src.merge(
        spark.createDataFrame(
            [(5, 4, "e", "Y", False)],
            "k long, seq long, v string, extra string, dead boolean",
        ),
        delete_col="dead",
    )
    replicate(cur)

    def state(t):
        cols = ["k", "seq", "v"]
        df = t.read()
        if "extra" in df.columns:
            cols.append("extra")
        return {r.k: tuple(r[c] for c in cols[1:]) for r in df.select(*cols).collect()}

    assert state(dst) == state(src)
    assert state(src) == {
        1: (3, "a3", "X"),
        2: (2, "b2", None),
        5: (4, "e", "Y"),
    }
    # strictness: a cdc-less merge in the span is refused, not degraded
    plain = TxnLogTable(
        spark, str(tmp_path / "c"), key="k", order_col="seq", files_per_commit=1
    )
    plain.append(spark.createDataFrame([(1, 1, "x")], "k long, seq long, v string"))
    plain.merge(spark.createDataFrame([(1, 2, "y")], "k long, seq long, v string"))
    with pytest.raises(ValueError, match="without row-level change"):
        plain.read_row_changes(-1)


def test_incremental_null_group_accumulates_across_refreshes(spark, tmp_path):
    """A NULL group key is a real GROUP BY key: a second span touching
    the NULL group must fold into its current aggregate, not silently
    reset it (the join onto the current snapshot must be null-safe)."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    src = _table(spark, tmp_path, files_per_commit=1)
    mv = IncrementalAggregate(
        src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"]
    )
    schema = "k long, seq long, grp string, x double"
    src.append(spark.createDataFrame([(1, 1, None, 10.0)], schema))
    mv.refresh()
    src.append(spark.createDataFrame([(2, 2, None, 7.0), (3, 2, "a", 1.0)], schema))
    mv.refresh()
    got = {r.grp: (r.n_rows, r.sum_x) for r in mv.read().collect()}
    assert got == {None: (2, 17.0), "a": (1, 1.0)}


def test_incremental_integer_sums_stay_integral(spark, tmp_path):
    """Integer measures must accumulate in integer type (the fixed-point
    exactness x_acid_incremental_mv relies on) — the neutral element in
    the fold must not widen the accumulator to double."""
    from pyspark.sql.types import LongType

    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    src = _table(spark, tmp_path, files_per_commit=1)
    mv = IncrementalAggregate(
        src, str(tmp_path / "mv"), group_col="grp", sum_cols=["vq"]
    )
    schema = "k long, seq long, grp string, vq long"
    src.append(spark.createDataFrame([(1, 1, "a", 10)], schema))
    mv.refresh()
    src.merge(spark.createDataFrame([(1, 2, "a", 4)], schema))
    mv.refresh()
    out = mv.read()
    assert isinstance(out.schema["sum_vq"].dataType, LongType), out.schema
    assert {r.grp: (r.n_rows, r.sum_vq) for r in out.collect()} == {"a": (1, 4)}


def test_row_changes_replication_contract_under_duplicate_appends(spark, tmp_path):
    """The replica is merge-shaped, so it converges to the source's
    LATEST-ROW-PER-KEY state: a source stacking duplicate keys via
    blind appends replicates as its newest row per key (the documented
    contract), identical to the full table when keys are unique."""
    src = TxnLogTable(
        spark, str(tmp_path / "a"), key="k", order_col="seq",
        files_per_commit=1, change_feed=True,
    )
    dst = TxnLogTable(
        spark, str(tmp_path / "b"), key="k", order_col="_commit_version",
        files_per_commit=1,
    )
    src.append(spark.createDataFrame([(1, 1, "x")], "k long, seq long, v string"))
    src.append(spark.createDataFrame([(1, 2, "y")], "k long, seq long, v string"))
    rows = src.read_row_changes(-1).filter(
        F.col("_change_type").isin("insert", "update_postimage", "delete")
    )
    dst.merge(
        rows.withColumn("__dead", F.col("_change_type") == "delete").drop(
            "_change_type"
        ),
        delete_col="__dead",
    )
    # source keeps both physical rows; the replica holds the newest per key
    assert src.read().count() == 2
    assert {(r.k, r.v) for r in dst.read().select("k", "v").collect()} == {(1, "y")}
    # and the feed itself is order-stable: metadata columns always last
    assert src.read_row_changes(-1).columns[-2:] == [
        "_commit_version",
        "_change_type",
    ]
    assert src.read_row_changes(src.latest_version()).columns[-2:] == [
        "_commit_version",
        "_change_type",
    ]


def test_read_row_changes_respects_vacuum_watermark(spark, tmp_path):
    """The typed feed obeys the same replay bound as read_changes: a
    cursor below the vacuum watermark raises cleanly instead of dying
    mid-scan on reclaimed change files."""
    t = TxnLogTable(
        spark, str(tmp_path / "tbl"), key="k", order_col="seq",
        files_per_commit=1, change_feed=True,
    )
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    for i in range(4):
        t.merge(
            spark.createDataFrame(
                [(1, i + 2, f"s{i}")], "k long, seq long, v string"
            )
        )
    t.vacuum(retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0)
    wm = t._vacuum_watermark()
    assert wm > 0
    with pytest.raises(ValueError, match="vacuumed"):
        t.read_row_changes(-1)
    # at/above the bound the feed replays and stays typed
    ok = t.read_row_changes(wm - 1)
    assert set(ok.select("_change_type").distinct().toPandas()["_change_type"]) <= {
        "insert", "update_preimage", "update_postimage", "delete"
    }


def test_all_losing_merge_does_not_strand_incremental_cursor(spark, tmp_path):
    """Advisor repro (incremental.py cursor stall): a change_feed merge
    whose rows ALL lose to stored rows rewrites the touched files
    (add/remove actions in the commit) but records EMPTY change files —
    so the span looks non-empty to the metadata probe while read_deltas
    replays zero rows. The refresh's target.merge() then sees an empty
    change set; it must still advance the txn cursor (via a data-free
    txn commit) or the cursor is stranded forever and, once vacuum moves
    the watermark past it, every refresh raises permanently."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    src = TxnLogTable(
        spark, str(tmp_path / "src"), key="k", order_col="seq",
        change_feed=True, files_per_commit=1,
    )
    src.append(
        spark.createDataFrame(
            [(1, 5, 10.0), (2, 5, 20.0)], "k long, seq long, x double"
        )
    )
    mv = IncrementalAggregate(
        src, str(tmp_path / "mv"), group_col="k", sum_cols=["x"],
        files_per_commit=1,
    )
    mv.refresh()
    assert mv.cursor() == src.latest_version() == 0

    # every change row is stale (seq 1 < stored seq 5): files rewritten,
    # CDC empty — the poisonous commit shape
    src.merge(
        spark.createDataFrame(
            [(1, 1, -99.0), (2, 1, -99.0)], "k long, seq long, x double"
        )
    )
    v_poison = src.latest_version()
    c = src._read_commit(v_poison)
    assert any("cdc" in a for a in c["actions"])          # change files recorded
    assert any("add" in a for a in c["actions"])          # files were rewritten
    assert src.read_deltas(0).count() == 0                # ...but zero delta rows

    mv.refresh()
    assert mv.cursor() == v_poison, "cursor stranded on empty-delta span"
    assert mv.refresh() is None  # caught up, not re-replaying forever
    # aggregate state is untouched and still equals a recompute
    assert {r.k: (r.n_rows, r.sum_x) for r in mv.read().collect()} == {
        1: (1, 10.0),
        2: (1, 20.0),
    }
    # and the stall's worst consequence is gone: vacuuming past the old
    # stranded position no longer breaks future refreshes
    for i in range(4):
        src.append(
            spark.createDataFrame(
                [(10 + i, 1, 1.0)], "k long, seq long, x double"
            )
        )
        mv.refresh()
    src.vacuum(retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0)
    assert mv.refresh() is None


def test_feed_paths_survive_url_encodable_characters(spark, tmp_path):
    """Advisor repro (_grouped_scan silent row loss): input_file_name()
    returns the URI-ENCODED path spelling ('sp ace' -> 'sp%20ace') while
    the commit log stores Path.toString forms. The old inner join against
    the path map silently dropped every row of every file under such a
    directory from all three feeds. Now: the spelling is percent-decoded
    (with '+' preserved — path semantics, not query-string), and any
    residual mismatch RAISES instead of dropping rows. Predicate DML
    canonicalizes the paths its kernel reports the same way."""
    d = tmp_path / "sp ace+plus"
    t = TxnLogTable(
        spark, str(d / "tbl"), key="k", order_col="seq",
        change_feed=True, files_per_commit=1,
    )
    t.append(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"
        )
    )
    t.merge(
        spark.createDataFrame([(1, 2, "a2")], "k long, seq long, v string")
    )
    changes = t.read_changes(-1)
    assert changes.count() > 0, "feed silently dropped url-encodable paths"
    assert {r._commit_version for r in changes.select("_commit_version").distinct().collect()} == {0, 1}
    typed = t.read_row_changes(-1)
    assert {
        (r.k, r._change_type, r._commit_version)
        for r in typed.select("k", "_change_type", "_commit_version").collect()
    } == {
        (1, "insert", 0),
        (2, "insert", 0),
        (1, "update_preimage", 1),
        (1, "update_postimage", 1),
    }
    # signed deltas balance: net per key == live row count
    net = {
        r.k: r.n
        for r in t.read_deltas(-1)
        .groupBy("k")
        .agg(F.sum("_weight").alias("n"))
        .collect()
    }
    assert net == {1: 1, 2: 1}
    # predicate DML matches the paths its kernel reports to the log's
    v = t.delete_where("k = 2")
    assert v is not None and t.history()[-1]["n_remove"] == 1
    assert {(r.k, r._change_type) for r in t.read_row_changes(v - 1).collect()} == {
        (2, "delete")
    }
    assert {r.k for r in t.read().collect()} == {1}


def test_schema_never_narrows_and_rewrites_preserve_evolved_columns(
    spark, tmp_path
):
    """r10 fuzz find: a commit whose batch LACKS an evolved column used to
    record the narrow batch schema as the table schema — and because
    merge/optimize read their touched/live files under the RECORDED
    schema, the next rewrite physically destroyed the evolved column's
    values on unrelated keys (the CDC files kept the truth, so a typed-
    feed replica diverged from its own source). Schema evolution must
    only widen."""
    t = _table(spark, tmp_path, files_per_commit=1, change_feed=True)
    # evolved merge introduces column y; keys 5 and 8 share ONE data file
    t.append(
        spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string")
    )
    t.merge(
        spark.createDataFrame(
            [(5, 2, "p", 1.5), (8, 2, "w", 0.5)],
            "k long, seq long, v string, y double",
        )
    )
    assert {r.k: r.y for r in t.read().collect()} == {1: None, 5: 1.5, 8: 0.5}
    # a NARROW append must not drop y from the recorded schema...
    t.append(
        spark.createDataFrame([(2, 3, "b")], "k long, seq long, v string")
    )
    assert "y" in t.read().columns
    # ...and a narrow merge touching key 5 rewrites the [5,8] file: key 8
    # is an UNTOUCHED key passing through verbatim — its y must survive
    # the rewrite (it was read back as NULL under the narrowed schema
    # before the fix). Key 5 itself upserts y=NULL: the row image IS the
    # change (documented CDC post-image semantics), consistently in the
    # table and the feed.
    t.merge(
        spark.createDataFrame([(5, 4, "p2")], "k long, seq long, v string")
    )
    assert {r.k: r.y for r in t.read().collect()}[8] == 0.5
    t.optimize(min_files=1)
    state = {r.k: (r.v, r.y) for r in t.read().collect()}
    assert state == {
        1: ("a", None),
        2: ("b", None),
        5: ("p2", None),
        8: ("w", 0.5),
    }
    # and the typed feed agrees with the table (the divergence the fuzz
    # caught was feed-vs-table)
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        TableReplicator,
    )

    rep = TableReplicator(t, str(tmp_path / "replica"), files_per_commit=1)
    rep.replicate()
    assert {
        r.k: (r.v, r.y) for r in rep.read().select("k", "v", "y").collect()
    } == state


def test_optimize_zorder_clusters_every_listed_dimension(spark, tmp_path):
    """OPTIMIZE ZORDER BY: single-dimension range clustering makes a
    narrow predicate on the merge key skip most files but a predicate on
    any OTHER dimension skip none (every file's d-range is full-width).
    After cluster_by=["k", "d"], file-level min/max stats prune on BOTH
    dimensions — the z-curve trades a little key-pruning selectivity for
    pruning on every listed column. Data is bit-identical, time travel
    intact, the recorded merge-key stats stay truthful about the (wider)
    post-z-order key ranges, scaffolding columns never land in the data
    files, and merges still work against the new layout."""
    import random

    rng = random.Random(7)
    t = _table(spark, tmp_path, files_per_commit=16)
    rows = [
        (rng.randrange(1000), i, rng.randrange(1000), f"v{i}")
        for i in range(8000)
    ]
    df = spark.createDataFrame(rows, "k long, seq long, d long, v string")
    t.append(df)

    def per_file_ranges(col):
        paths = [a["path"] for a in _live_adds(t)]
        stats = (
            spark.read.parquet(*paths)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()
        )
        return [(r.lo, r.hi) for r in stats]

    def files_overlapping(col, lo, hi):
        return sum(
            1 for flo, fhi in per_file_ranges(col) if not (fhi < lo or flo > hi)
        )

    n_files = len(_live_adds(t))
    assert n_files >= 12
    # default layout: a 10%-wide k predicate prunes hard, a d predicate
    # prunes NOTHING (every file overlaps)
    assert files_overlapping("k", 0, 99) <= max(3, n_files // 4)
    assert files_overlapping("d", 0, 99) == n_files
    before = {(r.k, r.seq, r.d, r.v) for r in t.read().collect()}

    v = t.optimize(cluster_by=["k", "d"])
    assert v is not None  # z-order re-layout runs even when compact
    after_read = t.read()
    # scaffolding never lands in the data files
    assert [c for c in after_read.columns if c.startswith("__zorder")] == []
    after = {(r.k, r.seq, r.d, r.v) for r in after_read.collect()}
    assert after == before  # row content untouched
    assert {(r.k, r.seq) for r in t.read(version=v - 1).collect()} == {
        (k, s) for (k, s, _, _) in before
    }  # time travel intact

    # z-order: the SAME 10%-wide predicate prunes on BOTH dimensions
    n_files_z = len(_live_adds(t))
    assert files_overlapping("k", 0, 99) <= n_files_z // 2
    assert files_overlapping("d", 0, 99) <= n_files_z // 2
    # recorded merge-key stats stay truthful per file
    actual = sorted(per_file_ranges("k"))
    recorded = sorted(
        (a["min_key"], a["max_key"]) for a in _live_adds(t)
    )
    assert recorded == actual
    # merges still work against the z-ordered layout
    t.merge(
        spark.createDataFrame(
            [(rows[0][0], 99999, 5, "upd")], "k long, seq long, d long, v string"
        )
    )
    got = {
        r.v
        for r in t.read().filter(F.col("k") == rows[0][0]).collect()
    }
    assert "upd" in got


def test_version_at_naive_is_utc_regardless_of_tz_env(spark, tmp_path):
    """Naive AS-OF timestamps are UTC by contract: under a non-UTC TZ
    environment a naive ISO string and the same instant spelled with an
    explicit +00:00 offset resolve to the SAME version (the old
    driver-local interpretation skewed naive resolution by the zone
    offset — machine-dependent results for the same string)."""
    import datetime as dt
    import os
    import time

    t = _table(spark, tmp_path)
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    time.sleep(1.1)
    mid = time.time()
    time.sleep(1.1)
    t.append(spark.createDataFrame([(2, 2, "b")], "k long, seq long, v string"))

    aware = dt.datetime.fromtimestamp(mid, dt.timezone.utc)
    naive_iso = aware.replace(tzinfo=None).isoformat()
    utc_iso = aware.isoformat()
    prev = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        assert t.version_at(naive_iso) == t.version_at(utc_iso) == 0
        # naive datetime objects follow the same rule
        assert t.version_at(aware.replace(tzinfo=None)) == 0
    finally:
        if prev is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev
        time.tzset()


def test_time_travel_as_of_timestamp(spark, tmp_path):
    """AS OF TIMESTAMP: commit publish times resolve to versions with
    Delta's monotone rule, a timestamp between commits reads the earlier
    snapshot, one at/after the head reads the head, and one before the
    first commit raises. history() carries the same timestamps."""
    import time

    t = _table(spark, tmp_path)
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    time.sleep(1.1)
    t_mid = time.time()
    time.sleep(1.1)
    t.merge(spark.createDataFrame([(1, 2, "b")], "k long, seq long, v string"))

    assert t.version_at(t_mid) == 0
    assert {r.v for r in t.read(timestamp=t_mid).collect()} == {"a"}
    assert {r.v for r in t.read(timestamp=time.time()).collect()} == {"b"}
    # datetime + ISO spellings resolve identically; naive values are
    # UTC by contract, so naive and explicit +00:00 spellings pin the
    # SAME version regardless of the driver's TZ environment
    import datetime as dt

    aware = dt.datetime.fromtimestamp(t_mid, dt.timezone.utc)
    naive = aware.replace(tzinfo=None)
    assert t.version_at(naive) == 0
    assert t.version_at(naive.isoformat()) == 0
    assert t.version_at(aware.isoformat()) == t.version_at(naive.isoformat())
    with pytest.raises(ValueError, match="did not exist"):
        t.read(timestamp=t_mid - 3600)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=0, timestamp=t_mid)
    h = t.history()
    assert [x["version"] for x in h] == [0, 1]
    assert h[0]["timestamp"] <= h[1]["timestamp"]  # monotone


def test_delete_where_predicate_semantics_and_feeds(spark, tmp_path):
    """Predicate DELETE: only files holding matches are rewritten, SQL
    NULL semantics keep NULL-predicate rows, the typed feed records
    row-level delete images (a replica follows), signed deltas balance,
    and a no-match predicate commits nothing."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        TableReplicator,
    )

    t = _table(spark, tmp_path, files_per_commit=2, change_feed=True)
    t.append(
        spark.createDataFrame(
            [
                (1, 1, "a", 10.0),
                (2, 1, "b", None),   # NULL predicate -> kept
                (3, 1, "c", 99.0),
                (4, 1, "d", 5.0),
            ],
            "k long, seq long, v string, x double",
        )
    )
    rep = TableReplicator(t, str(tmp_path / "rep"), files_per_commit=2)
    rep.replicate()

    files_before = {a["path"] for a in _live_adds(t)}
    v = t.delete_where(F.col("x") > 50)
    assert v is not None
    assert {r.k for r in t.read().collect()} == {1, 2, 4}
    # only the file(s) holding k=3 were rewritten
    files_after = {a["path"] for a in _live_adds(t)}
    assert files_before & files_after, "untouched files must survive verbatim"
    # typed feed carries the delete image; the replica converges
    typed = t.read_row_changes(v - 1)
    assert {(r.k, r._change_type) for r in typed.collect()} == {(3, "delete")}
    rep.replicate()
    assert {r.k for r in rep.read().collect()} == {1, 2, 4}
    # signed deltas over the whole history net to the live rows
    net = {
        r.k: r.n
        for r in t.read_deltas(-1)
        .groupBy("k")
        .agg(F.sum("_weight").alias("n"))
        .collect()
    }
    assert net == {1: 1, 2: 1, 3: 0, 4: 1}
    # SQL string predicates work; no match -> no commit
    head = t.latest_version()
    assert t.delete_where("x > 1000") is None
    assert t.latest_version() == head
    assert t.delete_where("v = 'd'") == head + 1
    assert {r.k for r in t.read().collect()} == {1, 2}
    # history names the op
    assert [h["op"] for h in t.history()][-2:] == ["delete", "delete"]


def test_update_where_assignments_and_feeds(spark, tmp_path):
    """Predicate UPDATE: assignments (Column / SQL string / literal)
    apply only to TRUE-predicate rows, pre/post images land in the typed
    feed, a replica converges, unknown assignment columns are refused,
    and time travel still reads the pre-update state."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        TableReplicator,
    )

    t = _table(spark, tmp_path, files_per_commit=2, change_feed=True)
    t.append(
        spark.createDataFrame(
            [
                (1, 1, "a", 10.0),
                (2, 1, "b", None),  # NULL predicate -> untouched
                (3, 1, "c", 99.0),
            ],
            "k long, seq long, v string, x double",
        )
    )
    rep = TableReplicator(t, str(tmp_path / "rep"), files_per_commit=2)
    rep.replicate()
    v = t.update_where(
        F.col("x") >= 10,
        {"v": "upper(v)", "x": F.col("x") * 2, "seq": 2},
    )
    assert v is not None
    state = {r.k: (r.seq, r.v, r.x) for r in t.read().collect()}
    assert state == {
        1: (2, "A", 20.0),
        2: (1, "b", None),
        3: (2, "C", 198.0),
    }
    # pre/post images, one pair per matched row
    typed = t.read_row_changes(v - 1)
    got = {(r.k, r._change_type, r.x) for r in typed.collect()}
    assert got == {
        (1, "update_preimage", 10.0),
        (1, "update_postimage", 20.0),
        (3, "update_preimage", 99.0),
        (3, "update_postimage", 198.0),
    }
    rep.replicate()
    assert {
        r.k: (r.v, r.x) for r in rep.read().select("k", "v", "x").collect()
    } == {1: ("A", 20.0), 2: ("b", None), 3: ("C", 198.0)}
    # pre-update snapshot intact (time travel)
    assert {r.k: r.x for r in t.read(version=v - 1).collect()} == {
        1: 10.0, 2: None, 3: 99.0,
    }
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(F.lit(True), {"nope": 1})
    with pytest.raises(ValueError, match="at least one assignment"):
        t.update_where(F.lit(True), {})


def test_cdcless_delete_update_refused_by_typed_feed(spark, tmp_path):
    """A delete/update commit without change files (change_feed off) is
    refused by read_row_changes — silently degrading to whole-file
    post-images would replicate kept rows as inserts and corrupt a
    replica — while read_deltas still replays the whole-file signed form
    correctly."""
    t = _table(spark, tmp_path, files_per_commit=1)  # no change_feed
    t.append(
        spark.createDataFrame(
            [(1, 1, "a", 1.0), (2, 1, "b", 2.0)],
            "k long, seq long, v string, x double",
        )
    )
    assert t.delete_where("k = 2") is not None
    with pytest.raises(ValueError, match="without row-level change"):
        t.read_row_changes(-1)
    net = {
        r.k: r.n
        for r in t.read_deltas(-1)
        .groupBy("k")
        .agg(F.sum("_weight").alias("n"))
        .collect()
    }
    assert net == {1: 1, 2: 0}


def test_update_where_rhs_evaluates_against_old_row(spark, tmp_path):
    """SQL UPDATE semantics: every assignment's right-hand side reads the
    OLD row — a column swap must actually swap, not see the other
    assignment's new value (the chained-withColumn formulation broke
    this)."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(
        spark.createDataFrame(
            [(1, 1, 10.0, 20.0)], "k long, seq long, a double, b double"
        )
    )
    t.update_where("k = 1", {"a": F.col("b"), "b": F.col("a")})
    r = t.read().collect()[0]
    assert (r.a, r.b) == (20.0, 10.0)


def test_rewrite_where_expect_cas_guards_concurrent_consumers(spark, tmp_path):
    """delete_where/update_where honor the same expect compare-and-set
    contract as merge: a stale cursor raises CursorAdvanced instead of
    double-applying, on both the commit path and the no-match path."""
    from data_pipeline_kafka_ek_spark.sources.acid import CursorAdvanced

    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(
        spark.createDataFrame(
            [(1, 1, "a", 5.0)], "k long, seq long, v string, x double"
        )
    )
    t.record_txn("app", 7)
    with pytest.raises(CursorAdvanced):
        t.delete_where(
            "x > 1", txn={"app_id": "app", "batch_id": 9, "expect": 3}
        )
    with pytest.raises(CursorAdvanced):
        t.update_where(
            "x > 1000", {"x": 0.0},
            txn={"app_id": "app", "batch_id": 9, "expect": 3},
        )
    # correct expect commits and advances the cursor
    v = t.delete_where(
        "x > 1", txn={"app_id": "app", "batch_id": 9, "expect": 7}
    )
    assert v is not None
    assert t.txn_high_water("app") == 9


def test_check_constraints_enforced_on_every_write_path(spark, tmp_path):
    """CHECK constraints (Delta parity): add_constraint validates the
    EXISTING table first; append/merge/update then validate their write
    sets in one aggregate job and raise ConstraintViolation instead of
    committing (version unchanged); NULL passes (SQL CHECK); tombstone
    change rows are exempt; drop_constraint lifts the gate; constraints
    survive checkpoints and fresh handles; narrow batches after
    evolution check as NULL."""
    from data_pipeline_kafka_ek_spark.sources.acid import (
        ConstraintViolation,
    )

    t = _table(spark, tmp_path, files_per_commit=1, checkpoint_interval=4)
    t.append(
        spark.createDataFrame(
            [(1, 1, "a", 5.0), (2, 1, "b", None)],
            "k long, seq long, v string, x double",
        )
    )
    # existing NULL passes; existing violation refuses the ALTER itself
    t.add_constraint("x_nonneg", "x >= 0")
    with pytest.raises(ConstraintViolation, match="x_under_4"):
        t.add_constraint("x_under_4", "x < 4")
    assert t.constraints() == {"x_nonneg": "x >= 0"}

    head = t.latest_version()
    with pytest.raises(ConstraintViolation, match="x_nonneg"):
        t.append(
            spark.createDataFrame(
                [(3, 2, "c", -1.0)], "k long, seq long, v string, x double"
            )
        )
    with pytest.raises(ConstraintViolation, match="2 row"):
        t.merge(
            spark.createDataFrame(
                [(1, 3, "a2", -9.0, False), (4, 3, "d", -2.0, False)],
                "k long, seq long, v string, x double, dead boolean",
            ),
            delete_col="dead",
        )
    with pytest.raises(ConstraintViolation, match="updated rows"):
        t.update_where("k = 1", {"x": -5.0})
    assert t.latest_version() == head, "failed writes must not commit"

    # tombstones are exempt (their payload never lands)
    t.merge(
        spark.createDataFrame(
            [(2, 4, None, -999.0, True)],
            "k long, seq long, v string, x double, dead boolean",
        ),
        delete_col="dead",
    )
    assert {r.k for r in t.read().collect()} == {1}
    # NULL measure passes on the write path too
    t.append(
        spark.createDataFrame(
            [(5, 5, "e", None)], "k long, seq long, v string, x double"
        )
    )
    # constraints survive checkpoints (interval=4 has published one) and
    # fresh handles
    t2 = _table(spark, tmp_path, files_per_commit=1, checkpoint_interval=4)
    assert t2.constraints() == {"x_nonneg": "x >= 0"}
    with pytest.raises(ConstraintViolation):
        t2.append(
            spark.createDataFrame(
                [(6, 6, "f", -1.0)], "k long, seq long, v string, x double"
            )
        )
    # narrow batch after evolution: missing column checks as NULL -> passes
    t2.merge(
        spark.createDataFrame(
            [(7, 7, "g", 1.0, 2.0)],
            "k long, seq long, v string, x double, y double",
        )
    )
    t2.add_constraint("y_pos", "y > 0")  # rows without y are NULL -> pass
    t2.append(
        spark.createDataFrame(
            [(8, 8, "h", 3.0)], "k long, seq long, v string, x double"
        )
    )
    t2.drop_constraint("x_nonneg")
    t2.append(
        spark.createDataFrame(
            [(9, 9, "i", -50.0)], "k long, seq long, v string, x double"
        )
    )
    assert set(t2.constraints()) == {"y_pos"}
    # the alter commits are visible, data-free history entries
    assert "alter" in {h["op"] for h in t2.history()}


def test_incremental_target_survives_txn_only_first_commit(spark, tmp_path):
    """r10 fuzz find: when the SOURCE history starts with data-free
    commits (an alter/constraint at v0), the first refresh advances the
    cursor with a data-free txn commit — the target then has
    latest_version() >= 0 but neither data nor schema, and the next
    refresh's target.read() used to die with 'no schema recorded'. A
    schema-less, add-less target is still the FIRST fold."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        IncrementalAggregate,
    )

    src = _table(spark, tmp_path, files_per_commit=1, change_feed=True)
    src.add_constraint("x_bound", "x > -1000")  # v0: data-free alter
    mv = IncrementalAggregate(
        src, str(tmp_path / "mv"), group_col="grp", sum_cols=["x"],
        files_per_commit=1,
    )
    assert mv.refresh() is None          # empty span: cursor-only commit
    assert mv.cursor() == 0
    assert mv.target.latest_version() == 0  # txn commit, no data/schema
    src.append(
        spark.createDataFrame(
            [(1, 1, "a", 2.0), (2, 1, "a", 3.0), (3, 1, "b", 4.0)],
            "k long, seq long, grp string, x double",
        )
    )
    mv.refresh()                          # used to raise ValueError here
    assert {r.grp: (r.n_rows, r.sum_x) for r in mv.read().collect()} == {
        "a": (2, 5.0),
        "b": (1, 4.0),
    }


def test_type_conflicting_batches_are_rejected_before_writing(spark, tmp_path):
    """No type evolution: a batch whose same-named column carries a
    different type is refused up front — silently committing it would
    write files the recorded schema cannot read back (a poisoned
    table). NullType columns are compatible (they land as NULLs);
    adding genuinely new columns still widens; nested nullability
    differences never false-positive."""
    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(
        spark.createDataFrame(
            [(1, 1, 5, [0.5])],
            "k long, seq long, x int, emb array<float>",
        )
    )
    head = t.latest_version()
    with pytest.raises(ValueError, match="type conflicts"):
        t.append(
            spark.createDataFrame(
                [(2, 2, 5.5, [0.5])],
                "k long, seq long, x double, emb array<float>",
            )
        )
    assert t.latest_version() == head
    with pytest.raises(ValueError, match="type conflicts"):
        t.merge(
            spark.createDataFrame(
                [(1, 3, "not an int")], "k long, seq long, x string"
            )
        )
    # uncast NULL (void) columns the table KNOWS are auto-cast to the
    # recorded type and land as readable NULLs (parquet would otherwise
    # store them as BOOLEAN — unreadable under the int schema); a void
    # column the table does NOT know is rejected with guidance
    t.append(
        spark.createDataFrame([(3, 4)], "k long, seq long")
        .withColumn("x", F.lit(None))
        .withColumn("emb", F.lit(None).cast("array<float>"))
    )
    assert {r.k: r.x for r in t.read().collect()} == {1: 5, 3: None}
    with pytest.raises(ValueError, match="untyped NULL"):
        t.append(
            spark.createDataFrame([(9, 9)], "k long, seq long")
            .withColumn("mystery", F.lit(None))
        )
    # widening by NEW columns still works after the guard
    t.append(
        spark.createDataFrame(
            [(4, 5, 7, "extra")], "k long, seq long, x int, note string"
        )
    )
    assert "note" in t.read().columns


def test_describe_detail_is_metadata_only(spark, tmp_path):
    t = _table(spark, tmp_path, files_per_commit=2, change_feed=True)
    t.append(
        spark.createDataFrame(
            [(i, 1, float(i)) for i in range(10)], "k long, seq long, x double"
        )
    )
    t.add_constraint("x_nonneg", "x >= 0")
    d = t.detail()
    assert d["version"] == 1 and d["num_rows"] == 10
    assert d["num_files"] == len(_live_adds(t))
    assert d["constraints"] == {"x_nonneg": "x >= 0"}
    assert d["key"] == "k" and d["change_feed"] is True
    assert d["vacuum_watermark"] == 0


def test_constraint_added_concurrently_blocks_append_and_merge(spark, tmp_path):
    """Delta's metadata-conflict rule from the writer side: a CHECK
    constraint that lands AFTER a writer validated its snapshot but
    BEFORE its commit must still gate that writer — the retry loop
    re-folds the constraint set at its commit base (winning the CAS
    proves the fold was the direct parent), so a racing ALTER can never
    be outrun. Simulated by injecting the ALTER from a second handle
    while the writer is mid-flight (between its snapshot check and its
    commit attempt)."""
    from data_pipeline_kafka_ek_spark.sources.acid import (
        ConstraintViolation,
    )

    t1 = _table(spark, tmp_path, files_per_commit=1)
    t1.append(
        spark.createDataFrame(
            [(1, 1, "a", 5.0)], "k long, seq long, v string, x double"
        )
    )
    t2 = TxnLogTable(spark, t1.path, key="k", order_col="seq", files_per_commit=1)

    real_write = t1._write_data_files
    fired = {"n": 0}

    def inject_alter(df, cluster_expr=None, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            t2.add_constraint("x_nonneg", "x >= 0")
        return real_write(df, cluster_expr, **kw)

    t1._write_data_files = inject_alter
    head = t1.latest_version()
    with pytest.raises(ConstraintViolation, match="concurrently"):
        t1.append(
            spark.createDataFrame(
                [(2, 2, "b", -1.0)], "k long, seq long, v string, x double"
            )
        )
    assert t1.latest_version() == head + 1  # only the ALTER landed
    assert {r.k for r in t1.read().collect()} == {1}

    # same race against MERGE: the change set re-validates in-loop
    t2.drop_constraint("x_nonneg")
    fired["n"] = 0

    real_merge_write = t1._write_merge_files

    def inject_alter_merge(*args, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            t2.add_constraint("x_pos", "x > 0")
        return real_merge_write(*args, **kw)

    t1._write_merge_files = inject_alter_merge
    head = t1.latest_version()
    with pytest.raises(ConstraintViolation, match="concurrently"):
        t1.merge(
            spark.createDataFrame(
                [(3, 3, "c", -2.0)], "k long, seq long, v string, x double"
            )
        )
    assert {r.k for r in t1.read().collect()} == {1}
    t1._write_data_files = real_write
    t1._write_merge_files = real_merge_write
    # a compliant batch passes under the now-active constraints
    t1.append(
        spark.createDataFrame(
            [(4, 4, "d", 4.0)], "k long, seq long, v string, x double"
        )
    )
    assert {r.k for r in t1.read().collect()} == {1, 4}


def test_add_constraint_revalidates_when_the_table_advances(spark, tmp_path):
    """The symmetric race: ALTER TABLE ADD CONSTRAINT validates a pinned
    snapshot and commits only directly on top of it — if a violating
    write lands first, the retry re-validates the advanced snapshot and
    raises instead of publishing a constraint that is false of the
    table."""
    from data_pipeline_kafka_ek_spark.sources.acid import (
        ConstraintViolation,
    )

    t1 = _table(spark, tmp_path, files_per_commit=1)
    t1.append(
        spark.createDataFrame(
            [(1, 1, "a", 5.0)], "k long, seq long, v string, x double"
        )
    )
    t2 = TxnLogTable(spark, t1.path, key="k", order_col="seq", files_per_commit=1)

    real_commit = t1._try_commit
    fired = {"n": 0}

    def inject_violating_append(version, op, actions, txn, schema=None):
        if op == "alter" and fired["n"] == 0:
            fired["n"] += 1
            t2.append(
                spark.createDataFrame(
                    [(2, 2, "b", -1.0)], "k long, seq long, v string, x double"
                )
            )
        return real_commit(version, op, actions, txn, schema)

    t1._try_commit = inject_violating_append
    with pytest.raises(ConstraintViolation, match="existing rows"):
        t1.add_constraint("x_nonneg", "x >= 0")
    t1._try_commit = real_commit
    assert t1.constraints() == {}  # the ALTER never published
    assert {r.k for r in t1.read().collect()} == {1, 2}


def test_append_checks_the_rows_it_actually_writes(spark, tmp_path):
    """A non-deterministic batch must not pass the CHECK aggregate and
    then materialize different rows: append pins the batch
    (localCheckpoint) before validating, so the rows checked ARE the
    rows committed. The probe UDF returns how many times the plan has
    been evaluated (file-backed counter): unpinned, the write re-runs
    the plan and lands generation 2+ on disk."""
    from data_pipeline_kafka_ek_spark.functions.udfs import make_series_udf

    counter = tmp_path / "evals"

    def bump(_):
        n = int(counter.read_text()) if counter.exists() else 0
        counter.write_text(str(n + 1))
        return n

    generation = make_series_udf(bump, "long")

    t = _table(spark, tmp_path, files_per_commit=1)
    t.append(
        spark.createDataFrame(
            [(1, 1, "a", 0.0)], "k long, seq long, v string, x double"
        )
    )
    t.add_constraint("x_is_gen0", "x = 0")
    batch = (
        spark.createDataFrame([(2, 2, "b")], "k long, seq long, v string")
        .repartition(1)
        .withColumn("x", generation(F.col("k")).cast("double"))
    )
    t.append(batch)  # checked rows == written rows
    assert {r.k: r.x for r in t.read().collect()} == {1: 0.0, 2: 0.0}


def test_timestamp_travel_survives_a_table_copy(spark, tmp_path):
    """AS OF resolution reads the publish time recorded INSIDE each
    commit, so rsync/copy (which rewrites file mtimes) does not shift
    the table's timeline. The copied table resolves the same historical
    timestamp to the same version even though every mtime is 'now'."""
    import shutil
    import time

    t = _table(spark, tmp_path)
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    time.sleep(1.1)
    t_mid = time.time()
    time.sleep(1.1)
    t.merge(spark.createDataFrame([(1, 2, "b")], "k long, seq long, v string"))

    copy_path = str(tmp_path / "copied")
    shutil.copytree(t.path, copy_path)
    c = TxnLogTable(spark, copy_path, key="k", order_col="seq")
    # the copy's data-file paths in the log still point at the ORIGINAL
    # table dir (paths are absolute) — resolution is what's under test
    assert c.version_at(t_mid) == 0
    assert c.version_at(time.time()) == 1
    assert [h["timestamp"] for h in c.history()] == [
        h["timestamp"] for h in t.history()
    ]


def test_zorder_clustering_shrinks_the_dml_rewrite_set(spark, tmp_path):
    """OPTIMIZE ZORDER BY must actually concentrate a clustered
    dimension: before, a predicate on d matches rows in EVERY file (d is
    uncorrelated with the merge-key ranges files are split on); after
    z-ordering on (k, d), the same predicate's matched-file set shrinks,
    and a predicate DELETE rewrites exactly that smaller set (n_remove
    in the commit log)."""
    t = _table(spark, tmp_path, files_per_commit=16)
    t.append(
        spark.createDataFrame(
            [(i, 1, "v", float(i % 50)) for i in range(2000)],
            "k long, seq long, v string, d double",
        )
    )

    def matched_files(cond):
        live = [a["path"] for a in _live_adds(t)]
        return (
            spark.read.parquet(*live)
            .filter(cond)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    before = matched_files("d = 7.0")
    assert before == 16  # d spreads across every key-range file
    assert t.optimize(cluster_by=["k", "d"]) is not None
    assert t.file_count() == 16  # same fragmentation, new layout
    after = matched_files("d = 7.0")
    assert after < before, f"zorder did not concentrate d: {after} files"
    rows_before = t.read().count()
    t.delete_where("d = 7.0")
    h = t.history()[-1]
    assert h["op"] == "delete" and h["n_remove"] == after
    assert t.read().count() == rows_before - 40


def test_replicate_stream_follows_dml_history_as_standing_query(
    spark, tmp_path
):
    """The streaming twin of TableReplicator.replicate(): the typed
    row-level feed consumed as a Structured Streaming source (one
    micro-batch per commit), each batch merged into the replica inside
    foreachBatch. A full merge+DELETE+UPDATE history must converge the
    replica to the source snapshot; a second run resumes from the
    durable cursor and is a no-op; commits landing later are picked up
    by the next run."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        TableReplicator,
    )

    src = TxnLogTable(
        spark, str(tmp_path / "src"), key="k", order_col="seq",
        files_per_commit=2, change_feed=True,
    )
    src.append(
        spark.createDataFrame(
            [(i, 1, "a", float(i)) for i in range(10)],
            "k long, seq long, v string, x double",
        )
    )
    src.merge(
        spark.createDataFrame(
            [(1, 2, "b", 100.0, False), (3, 2, None, 3.5, True), (20, 2, "n", 0.5, False)],
            "k long, seq long, v string, x double, dead boolean",
        ),
        delete_col="dead",
    )
    src.delete_where("x >= 7.0 AND x < 100.0")   # k in {7, 8, 9}
    src.update_where("k = 1", {"x": F.col("x") / 2})

    import glob as _glob
    import tempfile as _tempfile

    _ckpt_glob = f"{_tempfile.gettempdir()}/repl_stream_ckpt_*"
    ckpts_before = len(_glob.glob(_ckpt_glob))
    rep = TableReplicator(src, str(tmp_path / "rep"), files_per_commit=2)
    rep.replicate_stream()

    def snap(df):
        return {(r.k, r.seq, r.v, r.x) for r in df.select("k", "seq", "v", "x").collect()}

    assert snap(rep.read()) == snap(src.read())
    assert {r.k: r.x for r in rep.read().collect()}[1] == 50.0
    assert rep.cursor() == src.latest_version()
    # standing-query replay: a second run is a cursor-guarded no-op
    v = rep.target.latest_version()
    rep.replicate_stream()
    assert rep.target.latest_version() == v
    # new commits stream in on the next run
    src.append(
        spark.createDataFrame(
            [(50, 3, "z", 1.0)], "k long, seq long, v string, x double"
        )
    )
    rep.replicate_stream()
    assert snap(rep.read()) == snap(src.read())
    # checkpoints are disposable scaffolding: three catch-up calls must
    # not accumulate checkpoint directories in tempdir
    assert len(_glob.glob(_ckpt_glob)) == ckpts_before


def test_restore_reverts_dml_and_replica_follows(spark, tmp_path):
    """RESTORE TO VERSION AS OF is the undo for a bad DML: one commit
    re-adds the target snapshot's files and removes the rest, the
    recorded schema reverts, history stays time-travelable, and — with
    change_feed on — the commit carries row-level images so a replica
    (and the signed delta fold) follows the revert without a rebuild."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        TableReplicator,
    )

    src = TxnLogTable(
        spark, str(tmp_path / "src"), key="k", order_col="seq",
        files_per_commit=2, change_feed=True,
    )
    src.append(
        spark.createDataFrame(
            [(i, 1, float(i)) for i in range(8)], "k long, seq long, x double"
        )
    )
    src.merge(
        spark.createDataFrame(
            [(1, 2, 100.0), (20, 2, 0.5)], "k long, seq long, x double"
        )
    )
    good_version = src.latest_version()
    good = {(r.k, r.seq, r.x) for r in src.read().collect()}

    # the bad span: a destructive delete + a wrong update + evolution
    src.delete_where("x < 3.0")
    src.update_where("k >= 6", {"x": F.lit(-1.0)})
    src.merge(
        spark.createDataFrame(
            [(30, 3, 1.0, "oops")], "k long, seq long, x double, y string"
        )
    )
    assert "y" in src.read().columns

    rep = TableReplicator(src, str(tmp_path / "rep"), files_per_commit=2)
    rep.replicate()  # replica has followed the BAD state

    v = src.restore(version=good_version)
    assert v == src.latest_version()
    assert {(r.k, r.seq, r.x) for r in src.read().collect()} == good
    assert "y" not in src.read().columns  # schema reverted
    assert src.history()[-1]["op"] == "restore"
    # the bad span is still auditable/time-travelable
    assert "y" in src.read(version=v - 1).columns
    # idempotent: restoring to the now-current snapshot is a no-op
    assert src.restore(version=good_version) is None

    # the replica follows the restore through the typed feed
    rep.replicate()
    rows = {(r.k, r.seq, r.x) for r in rep.read().select("k", "seq", "x").collect()}
    assert rows == good
    # y on the replica is all-NULL post-restore (the post-images carry
    # the reverted row, and a missing column upserts NULL)
    assert {r.y for r in rep.target.read().select("y").collect()} == {None}

    # signed delta fold across the whole history (incl. restore) equals
    # a recompute
    folded = {
        r.k: (r.n, round(r.s, 6))
        for r in src.read_deltas(-1)
        .groupBy("k")
        .agg(
            F.sum("_weight").cast("long").alias("n"),
            F.sum(F.col("_weight") * F.col("x")).alias("s"),
        )
        .filter(F.col("n") > 0)
        .collect()
    }
    want = {
        r.k: (1, round(r.x, 6)) for r in src.read().collect()
    }
    assert folded == want

    with pytest.raises(ValueError, match="cannot restore"):
        src.restore(version=src.latest_version() + 5)


def test_restore_without_change_feed_is_file_level_and_feed_refuses(
    spark, tmp_path
):
    """A cdc-less restore still reverts the snapshot transactionally,
    but the typed row-level feed refuses the span (same fidelity rule
    as a cdc-less merge); a vacuumed target is refused."""
    t = _table(spark, tmp_path, files_per_commit=2)
    t.append(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"
        )
    )
    v0 = t.latest_version()
    t.delete_where("k = 1")
    assert t.restore(version=v0) is not None
    assert {r.k for r in t.read().collect()} == {1, 2}
    with pytest.raises(ValueError, match="row-level"):
        t.read_row_changes(v0).collect()
    # restore below the vacuum watermark is refused
    for i in range(3, 9):
        t.append(
            spark.createDataFrame([(i, 1, "x")], "k long, seq long, v string")
        )
    t.vacuum(retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0)
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(version=0)


def test_engine_sql_routes_restore(spark, tmp_path):
    """RESTORE [TABLE] t TO VERSION AS OF k and TO TIMESTAMP AS OF 'ts'
    route to the transactional restore and re-pin the registered view."""
    import time

    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "rt", str(tmp_path / "rt"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(spark.createDataFrame([(1, 1, 5.0)], "k long, seq long, x double"))
    time.sleep(1.1)
    mid = time.time()
    time.sleep(1.1)
    eng.sql("DELETE FROM rt")
    assert eng.sql("SELECT count(*) AS n FROM rt").first()["n"] == 0
    v = eng.sql("RESTORE TABLE rt TO VERSION AS OF 0").collect()[0].version
    assert v is not None
    assert eng.sql("SELECT count(*) AS n FROM rt").first()["n"] == 1
    eng.sql("DELETE FROM rt WHERE k = 1")
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(mid, timezone.utc).replace(tzinfo=None).isoformat()
    eng.sql(f"RESTORE rt TO TIMESTAMP AS OF '{ts}'")
    assert eng.sql("SELECT count(*) AS n FROM rt").first()["n"] == 1


def test_log_stats_data_skipping(spark, tmp_path):
    """Per-column min/max/null stats ride every add action (one grouped
    job, same as the key range), and prune_files/read_pruned skip files
    from LOG METADATA alone — zero Spark jobs for the prune. After
    OPTIMIZE ZORDER BY the prune gets selective on every listed
    dimension; the pruned read always equals the full-scan filter."""
    t = _table(spark, tmp_path, files_per_commit=16)
    t.append(
        spark.createDataFrame(
            [
                (i, 1, "v" + str(i % 7), float(i % 50),
                 None if i % 3 == 0 else "x" * 200)
                for i in range(2000)
            ],
            "k long, seq long, v string, d double, blob string",
        )
    )
    adds = _live_adds(t)
    s = adds[0]["stats"]
    # key column stats agree with the dedicated merge-key range
    assert s["k"]["min"] == adds[0]["min_key"]
    assert s["k"]["max"] == adds[0]["max_key"]
    assert s["d"]["min"] is not None and s["v"]["min"].startswith("v")
    # long-string extremes are refused, not truncated (a truncated max
    # understates the bound and would prune matching files)
    assert s["blob"]["min"] is None and s["blob"]["max"] is None
    assert s["blob"]["nulls"] > 0

    def n_files(conj):
        return len(t.prune_files(conj))

    # key-range clustering makes k selective immediately...
    assert n_files([("k", "between", (100, 110))]) <= 2
    # ...but d spreads across every file until z-ordering
    assert n_files([("d", "=", 7.0)]) == 16
    assert t.optimize(cluster_by=["k", "d"]) is not None
    pruned = n_files([("d", "=", 7.0)])
    assert pruned < 16, "zorder stats did not get selective on d"
    # conjunction prunes at least as hard as either conjunct
    both = n_files([("d", "=", 7.0), ("k", ">=", 1000)])
    assert both <= pruned
    # pruned read == full-scan filter, on every op
    for conj in (
        [("d", "=", 7.0)],
        [("k", ">=", 1900)],
        [("k", "<", 60), ("d", ">", 40.0)],
        [("v", "=", "v3")],
        [("d", "between", (10.0, 12.0))],
    ):
        got = {r.k for r in t.read_pruned(conj).collect()}
        want_df = t.read()
        from functools import reduce

        import pyspark.sql.functions as SF

        conds = []
        for col, op, val in conj:
            c = SF.col(col)
            conds.append(
                c.between(*val) if op == "between"
                else {"=": c == val, "<": c < val, "<=": c <= val,
                      ">": c > val, ">=": c >= val}[op]
            )
        want = {r.k for r in want_df.filter(reduce(lambda a, b: a & b, conds)).collect()}
        assert got == want, conj
    # an all-NULL column in a file proves no comparison can match it
    t2 = _table(spark, tmp_path / "t2", files_per_commit=1)
    t2.append(
        spark.createDataFrame(
            [(1, 1, None), (2, 1, None)],
            "k long, seq long, x double",
        )
    )
    assert t2.prune_files([("x", ">", 0.0)]) == []
    assert t2.read_pruned([("x", ">", 0.0)]).count() == 0
    # unsupported prune op is refused up front
    with pytest.raises(ValueError, match="prune op"):
        t.prune_files([("k", "!=", 5)])


def test_dml_prune_shrinks_hit_scan(spark, tmp_path):
    """delete_where/update_where accept log-stats prune conjuncts: the
    list of files the one-pass rewrite scans shrinks before any task is
    scheduled, results are identical to the unpruned op, and an empty
    pruned list is a clean no-op that still advances a txn cursor."""
    t = _table(spark, tmp_path, files_per_commit=8)
    t.append(
        spark.createDataFrame(
            [(i, 1, float(i)) for i in range(800)],
            "k long, seq long, x double",
        )
    )
    rows_before = t.read().count()
    # prune implied by the condition: k BETWEEN 100 AND 110 -> only the
    # file(s) whose recorded k-range overlaps are scanned at all
    assert len(t.prune_files([("k", "between", (100, 110))])) <= 2
    v = t.delete_where(
        "k >= 100 AND k <= 110", prune=[("k", "between", (100, 110))]
    )
    assert v is not None
    h = t.history()[-1]
    assert h["op"] == "delete" and h["n_remove"] <= 2
    assert t.read().count() == rows_before - 11
    # update with prune: values move only inside the pruned slice
    t.update_where(
        "k >= 700", {"x": F.col("x") + 0.5}, prune=[("k", ">=", 700)]
    )
    assert t.read().filter("k >= 700 AND x = k + 0.5").count() == 100
    # a prune that rules out every file is a no-op with cursor advance
    got = t.delete_where(
        "k = -1", txn={"app_id": "p", "batch_id": 3},
        prune=[("k", "=", -1)],
    )
    assert got is None and t.txn_high_water("p") == 3
    with pytest.raises(ValueError, match="prune op"):
        t.delete_where("k = 1", prune=[("k", "!=", 1)])


def test_conjuncts_from_condition_mechanical_derivation():
    """The deriver extracts exactly the simple top-level AND conjuncts —
    and NOTHING from OR branches, NOT, casts, column-vs-column, or
    quoted text that merely looks like a conjunct."""
    from data_pipeline_kafka_ek_spark.sources.acid import (
        conjuncts_from_condition as c,
    )

    assert c("k = 5") == [("k", "=", 5)]
    assert c("k >= 100 AND k <= 110") == [("k", ">=", 100), ("k", "<=", 110)]
    assert c("k BETWEEN 100 AND 110") == [("k", "between", (100, 110))]
    assert c("x > 0.5 AND grp = 'a'") == [("x", ">", 0.5), ("grp", "=", "a")]
    assert c("`odd col` = 'it''s'") == [("odd col", "=", "it's")]
    # OR poisons nothing else: the AND-split part containing it is skipped
    assert c("k = 1 OR k = 2") == []
    assert c("k >= 5 AND (grp = 'a' OR grp = 'b')") == [("k", ">=", 5)]
    # a literal containing ' AND k = 1' is data, not a conjunct boundary
    assert c("v = 'x AND k = 1'") == [("v", "=", "x AND k = 1")]
    # unparseable shapes contribute nothing (sound: pruning is optional)
    assert c("NOT k = 5") == []
    assert c("abs(x) > 1") == []
    assert c("k = seq") == []
    assert c("k BETWEEN 1 AND seq") == []
    # a TOP-LEVEL OR anywhere poisons every AND-split part (AND binds
    # tighter: "a AND b OR c" is "(a AND b) OR c" — no part is implied;
    # deriving one silently loses DML rows in pruned-out files)
    assert c("k >= 10 AND k <= 20 OR grp = 'a'") == []
    assert c("grp = 'a' OR k = 1 AND x = 2") == []
    assert c("k BETWEEN 1 AND 5 OR k BETWEEN 8 AND 9") == []
    # ...but a parenthesized disjunction is just an opaque conjunct
    assert c("(k >= 10 AND k <= 20 OR grp = 'a') AND x > 1") == [
        ("x", ">", 1)
    ]
    assert c("v = 'a OR b' AND k = 1") == [("v", "=", "a OR b"), ("k", "=", 1)]


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_sql_dml_derives_same_prune_as_explicit(spark, tmp_path, seed):
    """SQL-text DELETE/UPDATE file-prunes automatically: the mechanically
    derived conjuncts select the same file list as the hand-written
    explicit ones (prune_files equality), and the DML outcome — surviving
    rows, files removed — is identical between the SQL string surface
    (no prune argument anywhere) and the Python API with explicit
    conjuncts, across randomized conditions."""
    import random

    from data_pipeline_kafka_ek_spark.engine import Engine
    from data_pipeline_kafka_ek_spark.sources.acid import (
        TxnLogTable,
        conjuncts_from_condition,
    )

    r = random.Random(seed)
    rows = [
        (i, 1, float(r.randint(-50, 50)), r.choice(["a", "b", "c"]))
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "k long, seq long, x double, grp string")

    eng = Engine(spark)
    eng.create_acid_table(
        "pz", str(tmp_path / "sql"), key="k", order_col="seq",
        files_per_commit=8,
    ).append(df)
    twin = TxnLogTable(
        spark, str(tmp_path / "api"), key="k", order_col="seq",
        files_per_commit=8,
    )
    twin.append(df)

    lo = r.randint(50, 300)
    hi = lo + r.randint(10, 60)
    thr = float(r.randint(-10, 10))
    cases = [
        (f"k >= {lo} AND k <= {hi}", [("k", ">=", lo), ("k", "<=", hi)]),
        (f"k BETWEEN {lo} AND {hi} AND x > {thr}",
         [("k", "between", (lo, hi)), ("x", ">", thr)]),
        (f"grp = 'a' AND k < {lo}", [("grp", "=", "a"), ("k", "<", lo)]),
    ]
    cond, explicit = cases[seed % len(cases)]
    assert conjuncts_from_condition(cond) == explicit
    t = eng._acid["pz"]
    assert {a["path"] for a in t.prune_files(explicit)} == {
        a["path"] for a in t.prune_files(conjuncts_from_condition(cond))
    }
    # both tables must prune: fewer files scanned/removed than live
    live_before = t.file_count()
    v_sql = eng.sql(f"DELETE FROM pz WHERE {cond}").first().version
    v_api = twin.delete_where(cond, prune=explicit)
    assert (v_sql is None) == (v_api is None)
    if v_sql is not None:
        h_sql, h_api = t.history()[-1], twin.history()[-1]
        assert h_sql["op"] == h_api["op"] == "delete"
        assert h_sql["n_remove"] == h_api["n_remove"] < live_before
    left_sql = {tuple(x) for x in t.read().collect()}
    left_api = {tuple(x) for x in twin.read().collect()}
    assert left_sql == left_api
    # UPDATE through the same two surfaces
    upd_cond = f"k >= {hi} AND grp = 'b'"
    v_sql = eng.sql(
        f"UPDATE pz SET x = x + 100.0 WHERE {upd_cond}"
    ).first().version
    v_api = twin.update_where(
        upd_cond, {"x": F.col("x") + 100.0},
        prune=conjuncts_from_condition(upd_cond),
    )
    assert (v_sql is None) == (v_api is None)
    assert {tuple(x) for x in t.read().collect()} == {
        tuple(x) for x in twin.read().collect()
    }


def test_table_properties_lifecycle_and_consumers(spark, tmp_path):
    """Table properties fold through the log and checkpoints like
    constraints; the two the engine reads work end to end: a plain
    optimize() re-clusters on zorder.columns, and
    auto_optimize.file_threshold compacts inline after a write pushes
    the snapshot past it. The SQL surface (SET/UNSET/SHOW TBLPROPERTIES,
    DESCRIBE DETAIL) round-trips them."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "props", str(tmp_path / "props"), key="k", order_col="seq",
        files_per_commit=4, checkpoint_interval=4,
    )
    t.append(
        spark.createDataFrame(
            [(i, 1, float(i % 50)) for i in range(1000)],
            "k long, seq long, d double",
        )
    )
    eng.sql(
        "ALTER TABLE props SET TBLPROPERTIES "
        "('zorder.columns' = 'k, d', 'owner' = 'it''s me')"
    )
    assert t.properties() == {"zorder.columns": "k, d", "owner": "it's me"}
    # plain optimize honors the recorded layout: d gets selective
    before = len(t.prune_files([("d", "=", 7.0)]))
    assert t.optimize() is not None
    assert len(t.prune_files([("d", "=", 7.0)])) < before
    # properties survive checkpoints (interval=4) and fresh handles
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(2000 + i, 1, 0.0)], "k long, seq long, d double"
            )
        )
    t2 = _table(spark, tmp_path / "x", files_per_commit=4)  # unrelated
    fresh = TxnLogTable(
        spark, str(tmp_path / "props"), key="k", order_col="seq",
        files_per_commit=4, checkpoint_interval=4,
    )
    assert fresh.properties()["owner"] == "it's me"
    rows = {
        (r.key, r.value)
        for r in eng.sql("SHOW TBLPROPERTIES props").collect()
    }
    assert ("owner", "it's me") in rows
    assert '"owner"' in eng.sql("DESCRIBE DETAIL props").first()["properties"]
    eng.sql("ALTER TABLE props UNSET TBLPROPERTIES ('owner')")
    assert "owner" not in fresh.properties()

    # auto-compaction: a write that leaves more live files than the
    # threshold triggers an inline optimize (one extra commit)
    eng.sql(
        "ALTER TABLE props SET TBLPROPERTIES "
        "('auto_optimize.file_threshold' = '6')"
    )
    for i in range(3):
        t.append(
            spark.createDataFrame(
                [(3000 + i, 1, 1.0)], "k long, seq long, d double"
            )
        )
    assert t.file_count() <= 6, "auto-compaction did not fire"
    assert "optimize" in [h["op"] for h in t.history()][-4:]
    # rows intact through the whole lifecycle
    assert t.read().count() == 1006


def test_vacuum_dry_run_previews_without_deleting(spark, tmp_path):
    """VACUUM ... DRY RUN returns the same counts the real vacuum would
    but deletes nothing and leaves the watermark untouched; the real
    vacuum then deletes exactly the previewed data files."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "vdr", str(tmp_path / "vdr"), key="k", order_col="seq",
        files_per_commit=1,
    )
    for i in range(6):
        t.append(
            spark.createDataFrame([(i, 1, "x")], "k long, seq long, v string")
        )
    t.optimize(min_files=0)
    # push the retained window past the pre-compaction files: only then
    # do they stop being referenced by any retained snapshot
    for i in (100, 101):
        t.append(
            spark.createDataFrame([(i, 1, "y")], "k long, seq long, v string")
        )
    # SQL route honors the production min_age guard: fresh files are
    # not even previewed as deletable
    sql_preview = eng.sql("VACUUM vdr RETAIN 2 VERSIONS DRY RUN").collect()[0]
    assert sql_preview.data_files_deleted == 0
    preview = t.vacuum(
        retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0, dry_run=True
    )
    assert preview["data_files_deleted"] > 0
    assert t._vacuum_watermark() == 0  # untouched
    assert t.read(version=0).count() == 1  # nothing reclaimed
    real = t.vacuum(retain_versions=2, retain_tmp_s=0.0, min_age_s=0.0)
    assert real["data_files_deleted"] == preview["data_files_deleted"]
    assert t._vacuum_watermark() > 0
    with pytest.raises(ValueError, match="vacuumed"):
        t.read(version=0)


def test_commit_span_batching_groups_commits_and_converges(spark, tmp_path):
    """r13 verdict #5: commit-span batching. stream_changes with
    commits_per_batch=2 must replay 4 commits as 2 micro-batches with a
    commit never split across batches; replicate_stream with grouping
    must converge to the identical snapshot as per-commit replication —
    including a key upserted in one commit and deleted in a LATER commit
    of the same micro-batch (the in-batch _commit_version ranking)."""
    from data_pipeline_kafka_ek_spark.sources.incremental import (
        TableReplicator,
    )

    src = TxnLogTable(
        spark, str(tmp_path / "src"), key="k", order_col="seq",
        files_per_commit=1, change_feed=True,
    )
    src.append(
        spark.createDataFrame(
            [(i, 1, float(i)) for i in range(6)], "k long, seq long, x double"
        )
    )
    # commit 1: upsert k=1 and insert k=10
    src.merge(
        spark.createDataFrame(
            [(1, 2, 100.0, False), (10, 2, 0.5, False)],
            "k long, seq long, x double, dead boolean",
        ),
        delete_col="dead",
    )
    # commit 2 deletes the k=10 that commit 1 inserted — with grouping 2
    # both land in ONE micro-batch and the delete must win
    src.merge(
        spark.createDataFrame(
            [(10, 3, 0.0, True), (2, 3, 200.0, False)],
            "k long, seq long, x double, dead boolean",
        ),
        delete_col="dead",
    )
    src.update_where("k = 3", {"x": F.lit(333.0)})

    # 4 commits, grouped 2-per-batch -> exactly 2 micro-batches, each
    # holding whole commits in order (observed via foreachBatch)
    seen: list[set] = []

    def _collect(batch_df, batch_id):
        vs = {r._commit_version for r in
              batch_df.select("_commit_version").distinct().collect()}
        if vs:
            seen.append(vs)

    ckpt = str(tmp_path / "span_ckpt")
    q = (
        src.stream_changes(-1, commits_per_batch=2)
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) == 2, seen
    assert seen[0] | seen[1] == {0, 1, 2, 3}
    assert max(seen[0]) < min(seen[1])  # order preserved, commits whole

    rep_g = TableReplicator(src, str(tmp_path / "rep_g"), files_per_commit=1)
    rep_g.replicate_stream(commits_per_batch=2)
    rep_p = TableReplicator(src, str(tmp_path / "rep_p"), files_per_commit=1)
    rep_p.replicate_stream()  # per-commit baseline

    def snap(t):
        return {(r.k, r.seq, r.x) for r in t.read().select("k", "seq", "x").collect()}

    assert snap(rep_g.target) == snap(rep_p.target) == snap(src)
    assert 10 not in {k for k, _, _ in snap(rep_g.target)}
    assert rep_g.cursor() == src.latest_version()


def test_commit_span_grouping_exact_under_skewed_commit_sizes(
    spark, tmp_path
):
    """r14 ADVICE: repartitionByRange balances ROW WEIGHT, so a history
    whose first commit dwarfs the rest could realize 1+3 instead of 2+2
    micro-batches under sampled boundaries. The deterministic slicer
    ((_commit_version - min) // k) must group exactly ceil(n/k) commits
    per batch REGARDLESS of row skew: one 3000-row commit followed by
    three 2-row commits, k=2, must replay as exactly {0,1} then {2,3}."""
    src = TxnLogTable(
        spark, str(tmp_path / "skew"), key="k", order_col="seq",
        files_per_commit=1, change_feed=True,
    )
    src.append(
        spark.createDataFrame(
            [(i, 0, float(i)) for i in range(3000)],
            "k long, seq long, x double",
        )
    )
    for seq in (1, 2, 3):
        src.merge(
            spark.createDataFrame(
                [(seq, seq, 100.0 * seq), (5000 + seq, seq, 0.5)],
                "k long, seq long, x double",
            )
        )
    seen: list[set] = []

    def _collect(batch_df, batch_id):
        vs = {r._commit_version for r in
              batch_df.select("_commit_version").distinct().collect()}
        if vs:
            seen.append(vs)

    ckpt = str(tmp_path / "span_skew_ckpt")
    q = (
        src.stream_changes(-1, commits_per_batch=2)
        .writeStream.foreachBatch(_collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen == [{0, 1}, {2, 3}], seen


@pytest.mark.parametrize("seed", [11, 12])
def test_span_batched_replication_fuzz_random_histories(spark, tmp_path, seed):
    """Randomized DML histories (append/merge-with-tombstones/predicate
    DELETE/predicate UPDATE) replicated with a random commits_per_batch
    must converge byte-identically to the source snapshot — the grouped
    path may not diverge from per-commit semantics on ANY history, not
    just the curated one."""
    import random

    from data_pipeline_kafka_ek_spark.sources.incremental import (
        TableReplicator,
    )

    rng = random.Random(9000 + seed)
    src = TxnLogTable(
        spark, str(tmp_path / "src"), key="k", order_col="seq",
        files_per_commit=1, change_feed=True,
    )
    src.append(
        spark.createDataFrame(
            [(i, 0, float(i)) for i in range(12)],
            "k long, seq long, x double",
        )
    )
    for seq in range(1, rng.randint(4, 7)):
        op = rng.random()
        if op < 0.55:
            n = rng.randint(1, 5)
            ks = rng.sample(range(16), n)
            src.merge(
                spark.createDataFrame(
                    [
                        (
                            k,
                            seq,
                            round(rng.uniform(0, 100), 2),
                            rng.random() < 0.25,
                        )
                        for k in ks
                    ],
                    "k long, seq long, x double, dead boolean",
                ),
                delete_col="dead",
            )
        elif op < 0.8:
            src.delete_where(f"k % 11 = {rng.randrange(11)}")
        else:
            src.update_where(
                f"x > {rng.randint(20, 80)}", {"x": F.col("x") / 2}
            )
    cpb = rng.choice([2, 3, 5])
    rep = TableReplicator(src, str(tmp_path / "rep"), files_per_commit=1)
    rep.replicate_stream(commits_per_batch=cpb)

    def snap(t):
        return {
            (r.k, r.seq, round(r.x, 6))
            for r in t.read().select("k", "seq", "x").collect()
        }

    assert snap(rep.target) == snap(src), f"cpb={cpb}"
    assert rep.cursor() == src.latest_version()


def test_fused_write_stats_edge_cases(spark, tmp_path):
    """The fused mapInArrow writer must reproduce the stats contract the
    rescan path pinned: long-string extremes record None (never a
    truncation), an all-NULL-key file records lo=hi=None with its
    null_keys count, all-NULL stats columns record min=max=None, byte
    sizes are real on-disk sizes, and the files read back through Spark
    with the written schema."""
    t = _table(spark, tmp_path, files_per_commit=2)
    long_v = "z" * 100
    df = spark.createDataFrame(
        [
            (None, 1, long_v, None),
            (None, 2, long_v, None),
            (5, 3, "short", None),
            (6, 4, "short", None),
        ],
        "k long, seq long, v string, w string",
    )
    # cluster on seq so the NULL keys land together deterministically
    import pyspark.sql.functions as F
    import os

    adds = t._write_data_files(df, cluster_expr=F.col("seq"), n_files=2)
    assert len(adds) == 2
    null_file = [a for a in adds if a["null_keys"] == 2]
    assert len(null_file) == 1
    assert null_file[0]["min_key"] is None and null_file[0]["max_key"] is None
    keyed = [a for a in adds if a["null_keys"] == 0][0]
    assert (keyed["min_key"], keyed["max_key"]) == (5, 6)
    for a in adds:
        assert a["bytes"] == os.path.getsize(a["path"])
        # long-string column: extremes suppressed, nulls exact
        assert a["stats"]["v"]["min"] is None or len(a["stats"]["v"]["min"]) <= 64
        # all-NULL string column: no extremes, full null count
        assert a["stats"]["w"] == {"min": None, "max": None, "nulls": a["rows"]}
    assert {r["k"] for r in spark.read.parquet(*[a["path"] for a in adds]).collect()} == {None, 5, 6}
    long_stats = [a for a in adds if a["rows"] == 2 and a["null_keys"] == 2][0]
    assert long_stats["stats"]["v"] == {"min": None, "max": None, "nulls": 0}


def test_fused_write_timestamp_date_roundtrip(spark, tmp_path):
    """Temporal types must survive the pyarrow write path with their
    Spark types intact: TimestampType arrives in the Arrow batches with
    a session timezone, parquet records it adjusted-to-UTC, and Spark
    reads TimestampType (not NTZ) back; DateType likewise."""
    import datetime

    t = _table(spark, tmp_path)
    df = spark.createDataFrame(
        [(1, 1, datetime.datetime(2024, 5, 1, 12, 0, 0),
          datetime.date(2024, 5, 1))],
        "k long, seq long, ts timestamp, d date",
    )
    adds = t._write_data_files(df)
    back = spark.read.parquet(adds[0]["path"])
    assert back.dtypes == df.dtypes
    assert back.collect() == df.collect()


def _python_merge(stored, changes, cols):
    """Plain-Python MERGE fold, the oracle for the single-pass kernel:
    returns (surviving rows, change images). ``stored``/``changes`` are
    dicts with ``k`` and ``seq`` (changes also ``dead``); a key with no
    change row keeps every stored row, otherwise the latest ``seq``
    wins with the change side winning ties, and a winning tombstone
    deletes the key. Images follow Delta CDF: a key moves when the
    change side won or its stored duplicates collapse."""
    groups = {}
    for src, rows in ((0, stored), (1, changes)):
        for r in rows:
            groups.setdefault(r["k"], ([], []))[src].append(r)

    def row(r):
        return tuple(r.get(c) for c in cols)

    kept, images = [], []
    for old, chg in groups.values():
        if not chg:
            kept.extend(row(r) for r in old)
            continue
        win_src, win = max(
            [(0, r) for r in old] + [(1, r) for r in chg],
            key=lambda p: (p[1]["seq"], p[0]),
        )
        dead = win_src == 1 and bool(win.get("dead"))
        if not dead:
            kept.append(row(win))
        if win_src == 1 or len(old) > 1:
            if not dead:
                images.append(
                    row(win) + ("update_postimage" if old else "insert",)
                )
            images.extend(
                row(r) + ("delete" if dead else "update_preimage",)
                for r in old
            )
    return kept, images


@pytest.mark.parametrize("change_feed", [True, False])
def test_merge_kernel_edge_cases_match_python_fold(spark, tmp_path, change_feed):
    """The single-pass MERGE kernel resolves key groups over a sorted
    Arrow stream; with 2-row Arrow batches every group straddles a
    batch boundary. Blind-append duplicates (collapsing, and passing
    through untouched), NULL keys on both sides, an exact order_col tie
    between a stored and a change row (the change wins), a tombstone
    beating a stored row, a losing stored-side key, and a change set
    that adds a column — the snapshot, read_changes(v-1) and the
    on-disk change images all equal the plain-Python fold."""
    t = _table(spark, tmp_path, files_per_commit=2, change_feed=change_feed)
    stored = [
        {"k": 1, "seq": 1, "v": "a"}, {"k": 1, "seq": 2, "v": "a2"},
        {"k": 2, "seq": 1, "v": "b"}, {"k": None, "seq": 1, "v": "n"},
        {"k": 3, "seq": 5, "v": "c"}, {"k": 4, "seq": 1, "v": "d"},
        {"k": 5, "seq": 1, "v": "e"}, {"k": 8, "seq": 1, "v": "h"},
    ]
    dups = [{"k": 2, "seq": 3, "v": "b2"}, {"k": 5, "seq": 1, "v": "e"}]
    schema = "k long, seq long, v string"
    t.append(spark.createDataFrame([(r["k"], r["seq"], r["v"]) for r in stored], schema))
    t.append(spark.createDataFrame([(r["k"], r["seq"], r["v"]) for r in dups], schema))
    changes = [
        {"k": 1, "seq": 1, "v": "c1", "w": 10, "dead": False},  # dups collapse
        {"k": 2, "seq": 3, "v": "tie", "w": 20, "dead": False},  # tie: change wins
        {"k": None, "seq": 2, "v": "n2", "w": 30, "dead": False},
        {"k": None, "seq": 0, "v": "n-old", "w": 31, "dead": False},
        {"k": 3, "seq": 9, "v": None, "w": None, "dead": True},  # tombstone
        {"k": 4, "seq": 0, "v": "stale", "w": 40, "dead": False},  # loses
        {"k": 6, "seq": 1, "v": "f", "w": 60, "dead": False},
        {"k": 6, "seq": 2, "v": "f2", "w": 61, "dead": False},  # insert
        {"k": 7, "seq": 1, "v": None, "w": None, "dead": True},  # no-op
    ]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        v = t.merge(
            spark.createDataFrame(
                [tuple(r.values()) for r in changes],
                "k long, seq long, v string, w int, dead boolean",
            ),
            delete_col="dead",
        )
        cols = ["k", "seq", "v", "w"]
        kept, images = _python_merge(stored + dups, changes, cols)
        snap = [tuple(r) for r in t.read().select(*cols).collect()]
        assert sorted(snap, key=repr) == sorted(kept, key=repr)
        feed = [tuple(r) for r in t.read_changes(v - 1).select(*cols).collect()]
        if change_feed:
            posts = [i[:-1] for i in images if i[-1] in ("insert", "update_postimage")]
            assert sorted(feed, key=repr) == sorted(posts, key=repr)
            commit = t._read_commit(v)
            paths = [a["cdc"]["path"] for a in commit["actions"] if "cdc" in a]
            on_disk = [
                tuple(r)
                for r in spark.read.parquet(*paths)
                .select(*cols, "_change_type")
                .collect()
            ]
            assert sorted(on_disk, key=repr) == sorted(images, key=repr)
        else:
            # every file overlaps the change keys: the add-file feed is
            # the whole rewritten snapshot
            assert sorted(feed, key=repr) == sorted(kept, key=repr)
    finally:
        spark.conf.set(conf, prev)
    assert "w" in t.read().columns  # the change set widened the schema


def _python_dml(files, pred, assign, cols):
    """Plain-Python predicate DML fold, the oracle for the one-pass
    rewrite kernel. ``files`` maps each live path to its rows; ``pred``
    maps a row dict to True/False/None (only True matches); ``assign``
    maps a matched row dict to its new values (None: DELETE). Returns
    (snapshot rows, change images, touched paths, rows of the
    replacement files)."""
    snap, images, touched, rewritten = [], [], set(), []
    for path, rows in files.items():
        dicts = [dict(zip(cols, r)) for r in rows]
        if not any(pred(d) is True for d in dicts):
            snap.extend(rows)
            continue
        touched.add(path)
        for r, d in zip(rows, dicts):
            if pred(d) is not True:
                out = [r]
            elif assign is None:
                images.append(r + ("delete",))
                out = []
            else:
                new = tuple({**d, **assign(d)}[c] for c in cols)
                images += [r + ("update_preimage",), new + ("update_postimage",)]
                out = [new]
            snap.extend(out)
            rewritten.extend(out)
    return snap, images, touched, rewritten


@pytest.mark.parametrize("change_feed", [True, False])
def test_dml_kernel_edge_cases_match_python_fold(spark, tmp_path, change_feed):
    """The one-pass DELETE/UPDATE kernel, with 2-row Arrow batches so a
    file's rows straddle batches: NULL-predicate rows are kept, swapped
    assignments swap, a key-changing UPDATE keeps pruning exact for a
    later merge and read_pruned, a DELETE that empties whole files
    removes them with no replacement add, a no-match statement with a
    txn cursor advances the cursor without a data commit, and a
    concurrent rewrite of a touched file raises. Each commit's
    snapshot, change images (change feed on) or add-file feed (off),
    and n_add/n_remove equal the plain-Python fold."""
    t = _table(spark, tmp_path, files_per_commit=2, change_feed=change_feed)
    cols = ["k", "seq", "a", "b", "x"]
    schema = "k long, seq long, a double, b double, x double"

    def row(k):
        return (k, 0, float(k), 10.0 * k, None if k % 4 == 1 else 10.0 * k)

    t.append(spark.createDataFrame([row(k) for k in range(12)], schema))
    t.append(spark.createDataFrame([row(k) for k in range(20, 24)], schema))

    def on_disk():
        return {
            a["path"]: [
                tuple(r) for r in spark.read.parquet(a["path"]).select(*cols).collect()
            ]
            for a in _live_adds(t)
        }

    def snapshot():
        return sorted(tuple(r) for r in t.read().select(*cols).collect())

    def check(op, pred, assign):
        snap, images, touched, rewritten = _python_dml(on_disk(), pred, assign, cols)
        v = op()
        assert snapshot() == sorted(snap)
        h = t.history()[-1]
        assert h["n_remove"] == len(touched) and h["n_add"] <= 2, h
        if not rewritten:
            assert h["n_add"] == 0, h
        if change_feed:
            got = t.read_row_changes(v - 1).select(*cols, "_change_type")
            assert sorted(tuple(r) for r in got.collect()) == sorted(images)
        else:
            got = t.read_changes(v - 1).select(*cols)
            assert sorted(tuple(r) for r in got.collect()) == sorted(rewritten)
        return rewritten

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        # the second append's files hold only k >= 20: emptied whole
        assert check(
            lambda: t.delete_where("k >= 20"), lambda d: d["k"] >= 20, None,
        ) == []
        # x is NULL for k % 4 == 1: those rows are kept
        check(
            lambda: t.delete_where("x > 50"),
            lambda d: None if d["x"] is None else d["x"] > 50, None,
        )
        check(
            lambda: t.update_where("k < 4", {"a": F.col("b"), "b": F.col("a")}),
            lambda d: d["k"] < 4, lambda d: {"a": d["b"], "b": d["a"]},
        )
        check(
            lambda: t.update_where(
                (F.col("k") >= 1) & (F.col("k") < 4), {"k": F.col("k") + 100}
            ),
            lambda d: 1 <= d["k"] < 4, lambda d: {"k": d["k"] + 100},
        )
        # the moved keys' file stats are exact: a merge of key 101 finds
        # its stored row, and a pruned read sees every moved row
        t.merge(spark.createDataFrame([(101, 5, 0.0, 0.0, 1.0)], schema))
        want = {
            r for r in snapshot() if r[0] >= 100 and r[0] != 101
        } | {(101, 5, 0.0, 0.0, 1.0)}
        moved = t.read_pruned([("k", ">=", 100)]).select(*cols).collect()
        assert {tuple(r) for r in moved if r.k >= 100} == want
        assert len(moved) == len({r.k for r in moved})
        head = t.latest_version()
        assert t.delete_where(
            F.col("x") > 1e9, txn={"app_id": "edge", "batch_id": 1}
        ) is None
        assert t.latest_version() == head + 1
        assert t._read_commit(head + 1)["actions"] == []
        assert t.txn_high_water("edge") == 1
        target = [a["path"] for a in _live_adds(t) if a["min_key"] == 0]
        _inject_racing_commit(t, lambda: [{"remove": {"path": target[0]}}])
        with pytest.raises(ConcurrentModification, match="files this"):
            t.update_where("k = 0", {"x": 1.0})
        assert t.latest_version() == head + 2
    finally:
        spark.conf.set(conf, prev)


def test_merge_single_pass_job_budget(spark, tmp_path):
    """A change-feed MERGE over numeric keys runs at most five Spark
    jobs: the change-set checkpoint, the bounds aggregate, and the one
    write (its shuffle-map and result jobs) — the touched-file rescan,
    broadcast key distinct, anti/semi joins and ranked checkpoint of
    the former multi-stage plan are gone."""
    t = _table(spark, tmp_path, files_per_commit=4, change_feed=True)
    t.append(
        spark.createDataFrame(
            [(k, 0, f"v{k}") for k in range(400)], "k long, seq long, v string"
        )
    )
    changes = spark.createDataFrame(
        [(k, 1, f"u{k}", k % 7 == 0) for k in range(0, 440, 4)],
        "k long, seq long, v string, dead boolean",
    )
    sc = spark.sparkContext
    sc.setJobGroup("acid-merge-probe", "single-pass merge job budget")
    try:
        v = t.merge(changes, delete_col="dead")
    finally:
        sc.setJobGroup("acid-merge-probe-done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("acid-merge-probe")
    assert len(jobs) <= 5, jobs
    dead = {k for k in range(0, 440, 4) if k % 7 == 0}
    want = {k: f"u{k}" if k % 4 == 0 else f"v{k}" for k in range(400)}
    want.update({k: f"u{k}" for k in range(400, 440, 4)})
    want = {k: s for k, s in want.items() if k not in dead}
    assert {r.k: r.v for r in t.read().collect()} == want
    assert t.read_changes(v - 1).count() == len(range(0, 440, 4)) - len(dead)


def test_merge_string_keys_sampled_partitioning_matches_oracle(spark, tmp_path):
    """String keys cannot be range-modeled from min/max stats, so the
    merge falls back to the sampled repartitionByRange exchange. The
    kernel is exact whenever every row of a key lands in one partition,
    which range partitioning guarantees: over a seeded sequence of
    merges the snapshot and each commit's feed equal the Python fold."""
    import random

    t = TxnLogTable(
        spark, str(tmp_path / "tbl"), key="k", order_col="seq",
        files_per_commit=3, change_feed=True,
    )
    seen = []
    real_cluster = t._cluster_by_key

    def spy(df, n, cluster, boundaries, order=None):
        seen.append(boundaries)
        return real_cluster(df, n, cluster, boundaries, order)

    t._cluster_by_key = spy
    rng = random.Random(5)
    stored = [{"k": f"k{i:02d}", "seq": 0, "v": f"v{i}"} for i in range(40)]
    t.append(
        spark.createDataFrame(
            [(r["k"], r["seq"], r["v"]) for r in stored],
            "k string, seq long, v string",
        )
    )
    cols = ["k", "seq", "v"]
    state = [dict(r) for r in stored]
    for seq in range(1, 5):
        changes = [
            {"k": f"k{i:02d}", "seq": seq, "v": f"s{seq}.{i}",
             "dead": rng.random() < 0.2}
            for i in rng.sample(range(50), 12)
        ]
        v = t.merge(
            spark.createDataFrame(
                [tuple(r.values()) for r in changes],
                "k string, seq long, v string, dead boolean",
            ),
            delete_col="dead",
        )
        kept, images = _python_merge(state, changes, cols)
        state = [dict(zip(cols, r)) for r in kept]
        snap = sorted(tuple(r) for r in t.read().select(*cols).collect())
        assert snap == sorted(kept)
        feed = sorted(tuple(r) for r in t.read_changes(v - 1).select(*cols).collect())
        posts = [i[:-1] for i in images if i[-1] in ("insert", "update_postimage")]
        assert feed == sorted(posts)
    assert seen and all(b is None for b in seen)  # sampled path every time
