"""Incremental materialized aggregate over the ACID change feed.

The reference materializes continuously-updated aggregates by replaying a
Kafka changelog into ksqlDB table state (ksqldb-statements.sql:42-43, the
CTAS-over-stream pattern); this module is the lake-side twin: a grouped
count/sum aggregate of a :class:`~.acid.TxnLogTable` maintained
INCREMENTALLY from the source's transaction log, never recomputed.

Why this is the 100 TB design: a nightly ``GROUP BY`` over a 100 TB fact
table costs a full scan regardless of how little changed; this refresh
costs O(rows changed since the cursor) + a stats-pruned MERGE into the
aggregate table that rewrites only the files whose group-key range the
delta touches. The machinery composes three existing pieces:

* ``TxnLogTable.read_deltas`` — signed rows (+1 adds / -1 removed-file
  retractions), so ``sum(_weight * x)`` IS the change each distributive
  aggregate experienced. Post-image feeds alone cannot retract an
  updated row's old value; the remove set is exactly the pre-image.
* ``TxnLogTable.txn_high_water`` — the refresh stamps the source version
  it folded as its txn batch id on the TARGET table, making the cursor
  durable, crash-safe and exactly-once: a replayed refresh of the same
  span is a no-op inside ``merge`` itself, and the cursor is read back
  from the target's own log (no side-channel state files).
* ``TxnLogTable.merge`` — the delta lands transactionally; concurrent
  readers of the aggregate see the old or the new snapshot, never a
  partial fold.

Groups whose row count reaches zero are deleted (tombstoned through the
merge's ``delete_col``), so the aggregate never accumulates dead groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from data_pipeline_kafka_ek_spark.sources.acid import CursorAdvanced, TxnLogTable


class IncrementalAggregate:
    """Maintain ``SELECT group_col, count(*), sum(c) FOR c IN sum_cols``
    over a source :class:`TxnLogTable`, refreshed incrementally.

    The target is itself a ``TxnLogTable`` keyed by the group column
    (ordered by the source version each row was last folded at), so the
    aggregate inherits snapshot reads, time travel, and history for
    free — ``DESCRIBE HISTORY`` on the aggregate shows one merge per
    refresh span.

    Sum semantics are ``SUM(COALESCE(c, 0))``: NULL measures contribute
    zero, and a group whose measures are all NULL reports 0, not NULL —
    the only semantics an incremental signed fold can maintain exactly
    (a NULL-propagating SUM would need per-group non-NULL counts to know
    when to flip back to NULL).
    """

    def __init__(
        self,
        source: TxnLogTable,
        path: str,
        group_col: str,
        sum_cols: "list[str] | None" = None,
        app_id: "str | None" = None,
        **target_kw,
    ):
        self.source = source
        self.group_col = group_col
        self.sum_cols = list(sum_cols or [])
        self.app_id = app_id or f"mv:{path.rstrip('/').rsplit('/', 1)[-1]}"
        self.target = TxnLogTable(
            source.spark, path, key=group_col, order_col="__v", **target_kw
        )

    def cursor(self) -> int:
        """Source version folded so far (-1 before the first refresh) —
        read from the target's own txn log, so it survives restarts and
        advances atomically with the data it describes."""
        return self.target.txn_high_water(self.app_id)

    def _sum_alias(self, c: str) -> str:
        return f"sum_{c}"

    def refresh(self, max_restarts: int = 3) -> "int | None":
        """Fold source commits ``(cursor, latest]`` into the aggregate.
        Returns the target version written, or None when already caught
        up. Replay-safe TWO ways: the merge carries ``(app_id,
        batch_id=latest)`` so a duplicate refresh of the same span is
        skipped inside the commit protocol itself, and it carries
        ``expect=cursor`` so a CONCURRENT refresher that read the same
        cursor cannot double-apply an overlapping span — the loser's
        commit raises :class:`~.acid.CursorAdvanced` atomically with the
        publish race and the refresh restarts from the advanced cursor
        (overlap is folded exactly once)."""
        for _ in range(max_restarts):
            try:
                return self._refresh_once()
            except CursorAdvanced:
                continue  # re-read the cursor and fold only the remainder
        raise CursorAdvanced(
            f"refresh restarted {max_restarts} times without winning the "
            "cursor race"
        )

    def _refresh_once(self) -> "int | None":
        cur = self.cursor()
        # ONE listing of the source log: a caught-up poll stops at it;
        # otherwise the span (cursor, head] is walked from that listing
        listing = self.source._log_listing()
        v_now = max(listing[0], default=-1)
        if cur >= v_now:
            return None
        walk = self.source._feed_walk(cur, skip_optimize=True, listing=listing)
        g = self.group_col
        if not walk.groups:
            # a span of only optimize/create commits produces no deltas
            # and reads no file vacuum could have reclaimed: advance the
            # cursor with a data-free txn commit (zero Spark jobs — the
            # walk is metadata-only), else every future refresh
            # re-replays the same span forever
            self.target.record_txn(self.app_id, int(v_now), expect=cur)
            return None
        deltas = self.source._deltas_frame(walk)
        agg_exprs = [
            F.sum("_weight").cast("long").alias("__d_rows"),
        ] + [
            F.sum(F.col("_weight") * F.coalesce(F.col(c), F.lit(0)))
            .alias(f"__d_{c}")
            for c in self.sum_cols
        ]
        grouped = deltas.groupBy(g).agg(*agg_exprs)

        # the target is foldable only once it holds data or a schema: a
        # target whose ONLY commits are data-free txn cursor advances
        # (possible when the source history STARTS with alter/optimize
        # commits) has no snapshot to read — that is still the first fold
        t_state = self.target._fold_log()
        if t_state["adds"] or t_state["schema"]:
            current = self.target._scan(t_state).select(
                g,
                F.col("n_rows").alias("__c_rows"),
                *[
                    F.col(self._sum_alias(c)).alias(f"__c_{c}")
                    for c in self.sum_cols
                ],
            )
            # only groups the delta touches matter (current rows of
            # untouched groups never enter the plan). eqNullSafe: a NULL
            # group is a real GROUP BY key — a plain equi-join would
            # never match its current row and silently RESET the NULL
            # group's aggregate to just this span's delta
            current = current.withColumnRenamed(g, "__cg")
            merged = grouped.join(
                current, F.col(g).eqNullSafe(F.col("__cg")), "left"
            ).drop("__cg")
        else:
            merged = grouped
            for c in ["__c_rows"] + [f"__c_{c}" for c in self.sum_cols]:
                merged = merged.withColumn(c, F.lit(None))
        new_rows = merged.select(
            g,
            F.lit(v_now).cast("long").alias("__v"),
            (F.coalesce(F.col("__c_rows"), F.lit(0)) + F.col("__d_rows"))
            .cast("long")
            .alias("n_rows"),
            *[
                # coalesce with an INTEGER zero: the neutral element must
                # not widen the accumulator — lit(0.0) forced integer
                # measures to double forever, breaking the exact int64
                # fold x_acid_incremental_mv's fixed-point trick relies
                # on (type promotion still yields double for double
                # measures)
                (
                    F.coalesce(F.col(f"__c_{c}"), F.lit(0))
                    + F.col(f"__d_{c}")
                ).alias(self._sum_alias(c))
                for c in self.sum_cols
            ],
        ).withColumn("__deleted", F.col("n_rows") <= 0)
        return self.target.merge(
            new_rows,
            delete_col="__deleted",
            txn={
                "app_id": self.app_id,
                "batch_id": int(v_now),
                # compare-and-set: abort (and restart) if a concurrent
                # refresher advanced the cursor past the span start we
                # read the deltas against
                "expect": int(cur),
            },
        )

    def read(self) -> DataFrame:
        """Current aggregate snapshot (group, n_rows, sum_* columns)."""
        return self.target.read().drop("__v")


class TableReplicator:
    """Maintain a keyed REPLICA of a ``change_feed`` :class:`TxnLogTable`
    from its typed row-level change feed, incrementally and exactly-once —
    the one-call product form of the replication contract proven in
    tests/test_acid.py (``read_row_changes`` → keyed merge with
    ``order_col="_commit_version"`` and a delete flag from
    ``_change_type``).

    Same cursor mechanics as :class:`IncrementalAggregate`: the source
    version folded so far is recorded as a txn action on the TARGET
    table (durable, crash-safe, no side-channel state), every merge
    carries ``expect=cursor`` so concurrent replicators of the same
    app_id are exactly-once, and a span that produces no row changes
    still advances the cursor through a data-free txn commit.

    Semantics (the typed feed's documented contract): the replica
    converges to the source's LATEST-ROW-PER-KEY state — identical to
    the full table whenever keys are unique (the invariant
    merge-maintained tables keep); a source stacking duplicate keys via
    blind appends replicates as its newest row per key. Inherits the
    feed's span guards: raises if the span includes vacuumed versions or
    a cdc-less merge (fidelity is refused, never silently degraded).
    """

    def __init__(
        self,
        source: TxnLogTable,
        path: str,
        app_id: "str | None" = None,
        **target_kw,
    ):
        self.source = source
        self.app_id = app_id or f"repl:{source.path}"
        self.target = TxnLogTable(
            source.spark,
            path,
            key=source.key,
            order_col="_commit_version",
            **target_kw,
        )

    def cursor(self) -> int:
        """Source version replicated so far (-1 before the first call)."""
        return self.target.txn_high_water(self.app_id)

    def replicate(self, max_restarts: int = 3) -> "int | None":
        """Apply source commits ``(cursor, latest]`` to the replica.
        Returns the target version written, or None when already caught
        up. Restarts on a lost cursor race, same as
        :meth:`IncrementalAggregate.refresh`."""
        for _ in range(max_restarts):
            try:
                return self._replicate_once()
            except CursorAdvanced:
                continue
        raise CursorAdvanced(
            f"replicate restarted {max_restarts} times without winning "
            "the cursor race"
        )

    def _replicate_once(self) -> "int | None":
        cur = self.cursor()
        # same single source listing and walk as
        # IncrementalAggregate._refresh_once; a span of only
        # optimize/create/txn commits feeds the replica nothing — advance
        # the cursor with zero Spark jobs
        listing = self.source._log_listing()
        v_now = max(listing[0], default=-1)
        if cur >= v_now:
            return None
        walk = self.source._feed_walk(
            cur,
            skip_optimize=True,
            require_row_level=True,
            kinds=("cdc", "add"),
            listing=listing,
        )
        if not walk.groups:
            self.target.record_txn(self.app_id, int(v_now), expect=cur)
            return None
        rows = self.source._row_changes_frame(walk)
        changes = (
            rows.filter(
                F.col("_change_type").isin(
                    "insert", "update_postimage", "delete"
                )
            )
            .withColumn("__dead", F.col("_change_type") == "delete")
            .drop("_change_type")
        )
        self.target.merge(
            changes,
            delete_col="__dead",
            txn={
                "app_id": self.app_id,
                "batch_id": int(v_now),
                "expect": int(cur),
            },
        )
        return self.target.latest_version()

    def read(self) -> DataFrame:
        """Current replica snapshot (source columns, without the
        ``_commit_version`` bookkeeping column)."""
        return self.target.read().drop("_commit_version")

    def replicate_stream(
        self, since_version: int = -1, commits_per_batch: int = 1
    ) -> None:
        """The replica as a STANDING query: the source's typed row-level
        change feed consumed as a Structured Streaming source (one
        micro-batch per source commit, commit order preserved — the
        same replay machinery as ``TxnLogTable.stream_changes``), each
        micro-batch applied through the same keyed merge as
        :meth:`replicate`, exactly-once via the target-side txn cursor
        (a replayed micro-batch with an already-folded high-water commit
        is skipped inside ``merge`` itself). This is the reference's
        CDC update-propagation demo (README.md:204-210, a MySQL UPDATE
        flowing through Debezium into the materialized table) re-expressed
        as lake-side change-feed -> foreachBatch -> transactional merge.

        Runs to completion over all available commits
        (``trigger(availableNow=True)``) — the streaming twin of a
        ``replicate()`` catch-up. A later call resumes from the durable
        cursor. Multi-commit micro-batches stay correct: the merge ranks
        on ``_commit_version``, so a key's newest change in the batch
        wins and a delete in a later commit beats an earlier upsert.

        ``commits_per_batch`` groups ADJACENT commits into one
        micro-batch (deterministically sliced on
        ``(_commit_version - min) // commits_per_batch`` — a commit
        never splits across batches, and the grouping is exact, not
        left to ``repartitionByRange``'s sampled boundaries). Because
        every micro-batch costs a full transactional merge on the
        target, a replica catching up over a long span pays O(span)
        merges at the default; grouping turns that into
        O(span / commits_per_batch) with the identical converged state
        (the in-batch ranking above IS the correctness argument, and
        the CAS cursor advances to the batch's high-water commit
        exactly as before)."""
        import tempfile as _tempfile

        from data_pipeline_kafka_ek_spark.streaming import runtime as _rt

        # one cursor read for both uses: a concurrent commit landing
        # between two separate reads would let the CAS pass while the
        # read span overlaps already-applied commits — the CAS expect
        # must match the position the span was read at
        c0 = self.cursor()
        cur = max(c0, since_version)
        # the CAS tracks the TARGET's actual high water (which may trail
        # ``cur`` when the caller skipped ahead with since_version)
        expect_box = {"cur": c0}
        walk = self.source._feed_walk(
            cur, skip_optimize=True, require_row_level=True, kinds=("cdc", "add")
        )
        versions = [v for v in walk.state["versions"] if v > cur]
        stream = _rt.commit_span_stream(
            self.source.spark,
            self.source._row_changes_frame(walk),
            versions,
            commits_per_batch,
        )

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            changes = (
                batch_df.filter(
                    F.col("_change_type").isin(
                        "insert", "update_postimage", "delete"
                    )
                )
                .withColumn("__dead", F.col("_change_type") == "delete")
                .drop("_change_type")
            )
            head = changes.agg(
                F.max("_commit_version").alias("hi")
            ).first()["hi"]
            if head is None:
                return  # nothing but pre-images in this batch
            # same compare-and-set as replicate(): the cursor this run
            # last advanced to must still be current at merge time, so
            # two concurrent replicators of one app_id cannot interleave
            # spans (the high-water txn guard alone only stops exact
            # replays, not overlapping catch-ups). A replayed batch is
            # skipped by txn_seen BEFORE the CAS, so restarts stay clean.
            self.target.merge(
                changes,
                delete_col="__dead",
                txn={
                    "app_id": self.app_id,
                    "batch_id": int(head),
                    "expect": expect_box["cur"],
                },
            )
            expect_box["cur"] = max(expect_box["cur"], int(head))

        ckpt = _tempfile.mkdtemp(prefix="repl_stream_ckpt_")
        try:
            q = (
                stream.writeStream.foreachBatch(_apply)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            # the durable cursor is the TARGET-side txn — the streaming
            # checkpoint is disposable scaffolding; keeping it would
            # accumulate a directory per catch-up call forever
            import shutil as _shutil

            _shutil.rmtree(ckpt, ignore_errors=True)
