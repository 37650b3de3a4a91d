"""ACID transaction-log table: the production form of the changelog
materialization (reference: the compacted-topic TABLE abstraction,
ksqldb-statements.sql:42-43), built Delta-protocol-style on plain parquet
plus an ordered JSON commit log — no external table-format dependency,
same interface shape as ``sources/cdc.py::MaterializedTable`` but with the
four properties that class's bucketed-rewrite twin documents as missing:

* **Atomic commits** — a commit is published with a true put-if-absent of
  its fully-written JSON body (``_write_text_atomic``): on the local
  filesystem a hard ``link(2)`` of a complete temp file (link fails with
  EEXIST if the destination exists and never exposes partial content); on
  HDFS a ``rename`` (atomic server-side, fails when the destination
  exists). Readers either see the whole commit or none of it; data files
  are immutable once referenced.
* **Dense versions / optimistic concurrency** — the publish primitive IS
  the arbiter: version ``v`` exists only if its writer observed ``v-1``
  published, so the log never has gaps (Delta's dense-version rule). A
  writer that loses the publish race re-reads the log tail, re-runs
  conflict detection against the *published* winner (never against an
  unpublished in-flight writer — there is no claimed-but-unpublished
  state to mis-judge), and either retries on top (blind append, or a
  merge whose read set is intact) or raises ``ConcurrentModification``
  (a merge whose rewritten files were removed under it). A crashed
  writer leaves only an unlinked temp file — the next writer reuses the
  same version number; no version is ever parked.
* **Snapshot isolation + time travel** — ``read(version=k)`` reconstructs
  the live file set at any retained version; concurrent commits never
  tear an in-flight read (its file list is pinned when the snapshot is
  taken). ``vacuum(retain_versions=k)`` deletes data files only older
  snapshots reference and advances a watermark so time travel below it
  raises cleanly instead of failing mid-scan.
* **Idempotent streaming writes** — each commit can carry a
  ``(app_id, batch_id)`` transaction action; a replayed foreachBatch
  micro-batch with an already-recorded batch id is skipped, giving
  exactly-once sinks over at-least-once replays. The guard re-checks
  after every lost commit race, so two concurrent replays of the same
  batch cannot both land.

Scale design (the part that must survive 100 TB):

* The log is O(commits) tiny JSON files; every ``checkpoint_interval``
  commits a ``<v>.checkpoint.json`` file materializes the full live add
  set, the per-app txn high-water marks, and the current schema. Snapshot
  construction, ``txn_seen`` and schema lookup all read one checkpoint +
  the log tail — never the whole history. Checkpoints are discovered from
  the same directory listing as the commits themselves (no mutable
  pointer file to half-read). Because versions are dense, a checkpoint at
  ``v`` provably covers every commit ``<= v`` — no late-publishing lower
  version can appear after the fact and be silently excluded.
* Each commit's data files are key-RANGE clustered
  (``repartitionByRange`` on the merge key) and every add action records
  the file's ``[min_key, max_key]``. MERGE prunes with those stats: only
  files whose range overlaps the incoming change keys are rewritten —
  merge cost is proportional to the touched key range, not table size
  (same motivation as MaterializedTable's bucket rewrite, but with
  file-level stats instead of a fixed bucket grid).
* Per-commit file statistics come from ONE Spark job grouped by
  ``input_file_name()`` over the commit directory — never one job per
  file.
* All metadata passes run driver-side over the log only (file counts,
  never row counts); all data passes are DataFrame plans.

Reference scope: the reference gets these guarantees from Kafka compacted
topics + ksqlDB internal state; this module is the lake-side twin.
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from types import SimpleNamespace

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType
from pyspark.sql.window import Window


def _validate_conjuncts(conjuncts: "list[tuple]") -> None:
    ops = {"=", "<", "<=", ">", ">=", "between"}
    for c, op, _ in conjuncts:
        if op not in ops:
            raise ValueError(f"unsupported prune op {op!r} on {c!r}")


# literal forms the mechanical conjunct deriver understands: a signed
# int/float, or a single-quoted string with the '' escape
_PRUNE_LIT = r"-?\d+(?:\.\d+)?|'(?:[^']|'')*'"
_PRUNE_COL = r"[A-Za-z_]\w*|`(?:[^`]|``)+`"


def _prune_lit_value(tok: str):
    tok = tok.strip()
    if tok.startswith("'"):
        return tok[1:-1].replace("''", "'")
    return float(tok) if "." in tok else int(tok)


def _prune_col_name(tok: str) -> str:
    tok = tok.strip()
    if tok.startswith("`"):
        return tok[1:-1].replace("``", "`")
    return tok


def conjuncts_from_condition(condition: str) -> "list[tuple]":
    """Mechanically derive log-stats prune conjuncts from a SQL predicate
    string: the top-level AND conjuncts of the simple shapes
    ``col op literal`` (op in =,<,<=,>,>=) and ``col BETWEEN lit AND
    lit``. Everything else (OR branches, NOT, function calls, casts,
    column-vs-column) contributes nothing — skipping a conjunct only
    loses pruning, never correctness, because every derived conjunct is
    implied by the condition by construction. A TOP-LEVEL ``OR``
    anywhere disables derivation entirely: AND binds tighter than OR,
    so ``a AND b OR c`` is ``(a AND b) OR c`` and NO AND-split part is
    implied by the whole (an unsound conjunct would silently skip files
    the DML must touch). Quote- and paren-aware: ``AND``/``OR`` inside
    a string literal or a parenthesized subexpression is never a
    boundary, and column-name case must match the recorded stats
    exactly (a mismatch just skips that conjunct)."""
    import re as _re

    from data_pipeline_kafka_ek_spark.functions.sqltext import split_top

    # a top-level disjunction poisons every AND-split part: derive nothing
    if len(split_top(condition, "OR")) > 1:
        return []
    parts = split_top(condition, "AND")

    simple = _re.compile(
        rf"^\s*({_PRUNE_COL})\s*(>=|<=|=|<|>)\s*({_PRUNE_LIT})\s*$", _re.S
    )
    out: "list[tuple]" = []
    k = 0
    while k < len(parts):
        part = parts[k]
        m = simple.match(part)
        if m:
            out.append(
                (_prune_col_name(m.group(1)), m.group(2),
                 _prune_lit_value(m.group(3)))
            )
            k += 1
            continue
        # BETWEEN spans two AND-split parts: "col BETWEEN lo" + "hi"
        bm = _re.match(
            rf"^\s*({_PRUNE_COL})\s+BETWEEN\s+({_PRUNE_LIT})\s*$",
            part,
            _re.I | _re.S,
        )
        if bm and k + 1 < len(parts):
            hm = _re.match(rf"^\s*({_PRUNE_LIT})\s*$", parts[k + 1], _re.S)
            if hm:
                out.append(
                    (
                        _prune_col_name(bm.group(1)),
                        "between",
                        (_prune_lit_value(bm.group(2)),
                         _prune_lit_value(hm.group(1))),
                    )
                )
                k += 2
                continue
        k += 1
    return out


def _stats_may_match(add: dict, conjuncts: "list[tuple]") -> bool:
    """Can the file behind ``add`` hold a row satisfying every conjunct,
    judged from its recorded per-column stats? Sound by construction:
    unknown/unrecorded stats answer yes (keep the file); an all-NULL
    column answers no for any comparison (NULL satisfies none of the
    supported ops)."""
    stats = add.get("stats") or {}
    for col, op, val in conjuncts:
        s = stats.get(col)
        if s is None:
            continue  # unknown column stats: cannot rule out
        mn, mx = s.get("min"), s.get("max")
        if mn is None or mx is None:
            # no extremes recorded: either unpruneable (long strings) or
            # the column is all NULL in this file — NULL fails every
            # comparison, so an all-NULL file provably has no match
            if int(s.get("nulls") or 0) == int(add.get("rows") or -1):
                return False
            continue
        try:
            if op == "=" and (val < mn or val > mx):
                return False
            if op == "<" and mn >= val:
                return False
            if op == "<=" and mn > val:
                return False
            if op == ">" and mx <= val:
                return False
            if op == ">=" and mx < val:
                return False
            if op == "between":
                lo, hi = val
                if hi < mn or lo > mx:
                    return False
        except TypeError:
            # value/stat type mismatch (e.g. a string literal compared
            # against numeric stats): cannot rule the file out soundly
            continue
    return True


class ConcurrentModification(Exception):
    """A competing commit removed or rewrote files this merge depends on."""


class ConstraintViolation(Exception):
    """A write contained rows that make a table CHECK constraint FALSE
    (SQL CHECK semantics: NULL passes, only FALSE violates)."""


class CursorAdvanced(ConcurrentModification):
    """The txn high-water mark for the writer's app_id moved past the
    value the writer read its input span against — a concurrent consumer
    of the same app_id already folded (part of) this span, so committing
    would double-apply it. Raised only when the txn dict carries an
    ``expect`` entry (see :meth:`TxnLogTable.merge`); the caller should
    re-read its cursor and restart from the new position."""


def _replayed(state: dict, txn: "dict | None") -> bool:
    """Does the fold ``state`` already record ``txn``'s batch (or a later
    batch of the same app)? The exactly-once guard for replays."""
    return txn is not None and int(txn["batch_id"]) <= int(
        state["txns"].get(txn["app_id"], -1)
    )


def _fold_step(state: dict, version: int, commit: dict) -> None:
    """Apply commit ``version``'s body to the fold ``state`` in place —
    the one per-commit rule every fold shares: :meth:`TxnLogTable._fold_log`
    replays the tail after its checkpoint with it, and ``vacuum`` carries
    a fold forward into its retained window with it."""
    for action in commit["actions"]:
        if "add" in action:
            state["adds"][action["add"]["path"]] = action["add"]
        elif "remove" in action:
            state["adds"].pop(action["remove"]["path"], None)
        elif "constraint_add" in action:
            c = action["constraint_add"]
            state["constraints"][c["name"]] = c["expr"]
        elif "constraint_drop" in action:
            state["constraints"].pop(action["constraint_drop"]["name"], None)
        elif "property_set" in action:
            p = action["property_set"]
            state["properties"][p["key"]] = p["value"]
        elif "property_unset" in action:
            state["properties"].pop(action["property_unset"]["key"], None)
    txn = commit.get("txn")
    if txn:
        app = txn["app_id"]
        state["txns"][app] = max(int(txn["batch_id"]), state["txns"].get(app, -1))
    if commit.get("schema") is not None:
        state["schema"] = commit["schema"]
    state["version"] = version


def _schema_of(schema_json: "str | None") -> "StructType | None":
    """A recorded schema JSON (a fold's ``schema``) as a StructType;
    None for a table that never recorded one."""
    return StructType.fromJson(json.loads(schema_json)) if schema_json else None


def _canon(p: str) -> str:
    """Canonical path form for identity comparisons: the ``file:`` scheme
    is stripped (Hadoop prints ``file:/x``, ``input_file_name`` prints
    ``file:///x`` — same file, three spellings); other schemes pass
    through untouched. Every stored add/remove path and every membership
    check goes through here, so conflict detection and vacuum compare
    exact normalized paths, never suffixes."""
    if p.startswith("file:"):
        rest = p[len("file:"):]
        while rest.startswith("//"):
            rest = rest[1:]
        return rest
    return p


def _canon_uri(p: str) -> str:
    """Canonicalize a path that arrived in URI SPELLING — Hadoop
    ``Path.toString()`` and Spark ``input_file_name()`` percent-encode
    special characters ('sp ace' prints as 'sp%20ace'). Applied exactly
    at those boundaries and nowhere else: stored log paths are the raw
    filesystem spelling, so re-canonicalizing a stored path (plain
    ``_canon``) never double-decodes a file whose literal name contains
    a %XX sequence. Without the decode, a table under any directory with
    an encodable character records unreadable add paths — plain
    ``read()`` dies with PATH_NOT_FOUND on a spelling that is not on
    disk."""
    from urllib.parse import unquote

    return _canon(unquote(p))


def _murmur3_hash_int32(x: int, seed: int = 42) -> int:
    """Murmur3 x86 32-bit of one 4-byte int, exactly as Spark's
    ``Murmur3Hash`` expression computes it for an IntegerType column
    (``hashInt`` with Spark's fixed seed 42) — the hash behind
    ``HashPartitioning``'s ``pmod(hash(col), n)`` routing. Public
    algorithm (Austin Appleby's MurmurHash3, as in Spark's
    ``sql/catalyst`` hash expressions); pinned against ``F.hash`` by
    test_murmur3_preimages_match_spark_hash."""
    mask = 0xFFFFFFFF
    k = (x * 0xCC9E2D51) & mask
    k = ((k << 15) | (k >> 17)) & mask
    k = (k * 0x1B873593) & mask
    h = (seed ^ k) & mask
    h = ((h << 13) | (h >> 19)) & mask
    h = (h * 5 + 0xE6546B64) & mask
    # finalization mix, length = 4 bytes
    h ^= 4
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & mask
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & mask
    h ^= h >> 16
    # Spark reads the result as a SIGNED 32-bit int
    return h - (1 << 32) if h >= (1 << 31) else h


def _partition_preimages(n: int) -> "list[int]":
    """For each partition id p in [0, n): the smallest non-negative int
    x with ``pmod(murmur3(x), n) == p``. Routing rows through
    ``repartition(n, element_at(<these literals>, pid + 1))`` places a
    row with computed partition id ``pid`` EXACTLY in shuffle partition
    ``pid`` — deterministic range routing with no sampling job and no
    hash-collision skew (guide §2.5's warning about hashing a
    small-cardinality synthetic key does not apply because every bucket
    value routes to its own distinct partition by construction)."""
    out: "list[int | None]" = [None] * n
    found, x = 0, 0
    while found < n:
        p = _murmur3_hash_int32(x) % n  # Python % == pmod for n > 0
        if out[p] is None:
            out[p] = x
            found += 1
        x += 1
    return out  # type: ignore[return-value]


def _range_route(col, bounds: list):
    """The shuffle-routing value for ``repartition(len(bounds) + 1,
    <this>)`` that sends a row to partition #(``bounds`` below ``col``),
    NULL to partition 0: the murmur3 preimage literal of that partition
    id (see :func:`_partition_preimages`)."""
    pid = F.coalesce(
        sum(((col > F.lit(b)).cast("int") for b in bounds), F.lit(0)), F.lit(0)
    )
    pre = _partition_preimages(len(bounds) + 1)
    return F.element_at(F.array(*map(F.lit, pre)), pid + 1)


def _stats_range_boundaries(
    sources: "list[tuple]", n_parts: int
) -> "list[float] | None":
    """Equi-depth range boundaries derived from per-source key stats —
    the zero-job replacement for ``repartitionByRange``'s sampling pass
    (r16 deferral #3). ``sources`` is ``[(lo, hi, rows), ...]`` (a
    touched file's non-null key span, or the change set's bounds);
    the key distribution is modeled piecewise-uniform per source and
    the mixture CDF is inverted at i/n quantiles by bisection. The
    boundaries only steer FILE SIZING — bucketing is monotone in the
    key, so files stay key-range disjoint (exact, what stats pruning
    needs) regardless of how good the uniform approximation is.
    Returns ``n_parts - 1`` ascending (possibly repeated) boundaries,
    or None when there is nothing to model."""
    src = [
        (float(lo), float(hi), int(rows))
        for lo, hi, rows in sources
        if lo is not None and hi is not None and rows
    ]
    if not src or n_parts <= 1:
        return None if not src else []
    total = sum(r for _, _, r in src)

    def cdf(x: float) -> float:
        acc = 0.0
        for lo, hi, r in src:
            if x >= hi:
                acc += r
            elif x > lo:
                acc += r * (x - lo) / (hi - lo)
        return acc

    lo_all = min(lo for lo, _, _ in src)
    hi_all = max(hi for _, hi, _ in src)
    bounds: "list[float]" = []
    for i in range(1, n_parts):
        target = total * i / n_parts
        a, b = lo_all, hi_all
        for _ in range(64):
            m = (a + b) / 2
            if cdf(m) < target:
                a = m
            else:
                b = m
        bounds.append((a + b) / 2)
    return bounds


# rows buffered per parquet row group in the fused writers: large enough
# that row-group min/max stats stay useful and dictionary pages amortize,
# small enough that one buffered group never strains executor memory
_FUSED_ROWGROUP_ROWS = 131_072


class _PartFile:
    """One task's parquet output file in a fresh commit directory — the
    file protocol every writer kernel below shares. Opened lazily on the
    first non-empty table under a name that is a pure function of the
    partition id (``part-<pid>``), written through an attempt-unique
    temp file and moved into place on close (atomic rename on
    local/HDFS), so a retried task is last-wins and an empty partition
    leaves no file. ``pyarrow.fs.FileSystem.from_uri`` inside the task
    lets the same code write file:/, hdfs:/ or s3:/ directories.

    ``kind`` (``add`` or ``cdc``) tags the file's record. With ``key``
    set the file also folds its data-skipping stats over the tables it
    writes (Delta's writer-side stats: a byproduct of the write, never a
    rescan) — the key's non-NULL range and NULL count, and min/max/NULL
    counts of ``skip_cols``."""

    def __init__(
        self, root_uri: str, kind: str, key: "str | None" = None, skip_cols=()
    ):
        self.root_uri = root_uri
        self.kind = kind
        self.key = key
        self.skip_cols = list(skip_cols)
        self.writer = None
        self.buf: list = []
        self.buffered = 0
        self.rows = 0
        self.null_keys = 0
        self.key_lo = self.key_hi = None
        self.mins: dict = {}
        self.maxs: dict = {}
        self.nulls = {c: 0 for c in self.skip_cols}

    def write(self, tbl) -> None:
        if tbl.num_rows == 0:
            return
        if self.writer is None:
            import pyarrow.parquet as pq
            from pyarrow import fs as pafs
            from pyspark import TaskContext

            self.fs, root = pafs.FileSystem.from_uri(self.root_uri)
            self.fs.create_dir(root)
            pid = TaskContext.get().partitionId()
            self.final = f"{root}/part-{pid:05d}.parquet"
            self.tmp = f"{self.final}.{uuid.uuid4().hex}.tmp"
            self.writer = pq.ParquetWriter(
                self.tmp, tbl.schema, filesystem=self.fs
            )
        self.buf.append(tbl)
        self.buffered += tbl.num_rows
        if self.buffered >= _FUSED_ROWGROUP_ROWS:
            self._flush()

    def _flush(self) -> None:
        import pyarrow as pa

        if not self.buf:
            return
        tbl = pa.concat_tables(self.buf)
        self.writer.write_table(tbl)
        self.buf, self.buffered = [], 0
        if self.key is not None:
            self._fold(tbl)

    def _fold(self, tbl) -> None:
        import pyarrow.compute as pc

        self.rows += tbl.num_rows
        kc = tbl.column(self.key)
        self.null_keys += kc.null_count
        if kc.null_count < len(kc):
            mm = pc.min_max(kc)
            lo, hi = mm["min"].as_py(), mm["max"].as_py()
            self.key_lo = lo if self.key_lo is None else min(self.key_lo, lo)
            self.key_hi = hi if self.key_hi is None else max(self.key_hi, hi)
        for c in self.skip_cols:
            col = tbl.column(c)
            self.nulls[c] += col.null_count
            if col.null_count < len(col):
                mm = pc.min_max(col)
                lo, hi = mm["min"].as_py(), mm["max"].as_py()
                self.mins[c] = lo if c not in self.mins else min(self.mins[c], lo)
                self.maxs[c] = hi if c not in self.maxs else max(self.maxs[c], hi)

    def close(self) -> "dict | None":
        """Publish the file and return its record — ``kind`` and
        ``path``, plus the stats fold when ``key`` is set — or None if
        nothing was written."""
        if self.writer is None:
            return None
        self._flush()
        self.writer.close()
        self.fs.move(self.tmp, self.final)
        if self.key is None:
            return {"kind": self.kind, "path": self.final}

        def short(v):
            # the <=64-char string rule (see _skip_cols): a long extreme
            # records None, never a truncation
            return None if isinstance(v, str) and len(v) > 64 else v

        return {
            "kind": self.kind,
            "path": self.final,
            "min_key": self.key_lo,
            "max_key": self.key_hi,
            "rows": self.rows,
            "null_keys": self.null_keys,
            "bytes": int(self.fs.get_file_info(self.final).size),
            "stats": {
                c: {
                    "min": short(self.mins.get(c)),
                    "max": short(self.maxs.get(c)),
                    "nulls": int(self.nulls[c]),
                }
                for c in self.skip_cols
            },
        }


def _run_writer(clustered: DataFrame, write_partition) -> "list[dict]":
    """Run ``write_partition`` — a range partition's Arrow batches in,
    the records of the :class:`_PartFile` s it closed out (None for a
    file never opened) — over every partition as ONE job whose output
    rows are those records."""

    def kernel(batches):
        import pyarrow as pa

        recs = [r for r in write_partition(batches) if r is not None]
        if recs:
            yield pa.RecordBatch.from_arrays(
                [pa.array([json.dumps(r) for r in recs], pa.string())],
                names=["stats"],
            )

    out = clustered.mapInArrow(kernel, "stats string").collect()
    return [json.loads(r["stats"]) for r in out]


def _add_action(r: dict) -> dict:
    """A data file's stat record as a log ``add`` action."""
    return {
        "path": _canon_uri(r["path"]),
        "min_key": r["min_key"],
        "max_key": r["max_key"],
        "rows": r["rows"],
        "null_keys": r["null_keys"],
        "bytes": r["bytes"],
        "stats": r["stats"],
    }


def _fused_write_partitions(
    clustered: DataFrame,
    out_dir: str,
    kind: str,
    key: "str | None" = None,
    skip_cols: "list[str]" = (),
) -> "list[dict]":
    """The single write job behind ``_write_data_files`` (``add`` files,
    stats folded on ``key``; append and optimize) and a restore's
    change files (``cdc``, no stats): every partition's task streams
    its Arrow batches into one parquet file."""

    def _write_one_partition(batches):
        import pyarrow as pa

        out = _PartFile(out_dir, kind, key, skip_cols)
        for batch in batches:
            out.write(pa.Table.from_batches([batch]))
        return [out.close()]

    return _run_writer(clustered, _write_one_partition)


def _rewrite_write_partitions(
    clustered: DataFrame,
    commit_dir: str,
    cdc_dir: "str | None",
    op: str,
    key: str,
    skip_cols: "list[str]",
    data_cols: "list[str]",
    pre_cols: "dict[str, str]",
) -> "list[dict]":
    """The single job behind a predicate DELETE/UPDATE commit.
    ``clustered`` holds the rows of exactly the files that hold a match,
    routed on ``__path`` so every row of one input file lands in one
    partition. Each row carries ``data_cols`` — its image after the
    statement (UPDATE's assignments already applied to matched rows) —
    and ``__m``, whether the predicate is TRUE. Each task writes one
    replacement data file: every row for ``update``, the unmatched rows
    for ``delete``. With ``cdc_dir`` set it also writes the matched rows'
    Delta-CDF images: ``delete``, or ``update_preimage`` (the old values
    of the assigned columns ride in ``pre_cols``' carrier columns) and
    ``update_postimage``. Besides the file records, the task reports
    every input path it replaced as a ``read`` record."""

    def _rewrite_one_partition(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        data = _PartFile(commit_dir, "add", key, skip_cols)
        cdc = _PartFile(cdc_dir, "cdc") if cdc_dir is not None else None
        paths: set = set()

        def tagged(t, kind):
            return t.append_column(
                "_change_type", pa.array([kind] * t.num_rows, pa.string())
            )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            paths.update(pc.unique(t.column("__path")).to_pylist())
            m = t.column("__m")
            img = t.select(data_cols)
            data.write(img if op == "update" else img.filter(pc.invert(m)))
            if cdc is None:
                continue
            post = img.filter(m)
            if op == "delete":
                cdc.write(tagged(post, "delete"))
                continue
            old = t.filter(m)
            pre = pa.Table.from_arrays(
                [old.column(pre_cols.get(c, c)) for c in data_cols],
                schema=post.schema,
            )
            cdc.write(pa.concat_tables([
                tagged(pre, "update_preimage"), tagged(post, "update_postimage")
            ]))
        return [data.close(), cdc.close() if cdc is not None else None] + [
            {"kind": "read", "path": p} for p in sorted(paths)
        ]

    return _run_writer(clustered, _rewrite_one_partition)


def _merge_write_partitions(
    clustered: DataFrame,
    commit_dir: str,
    cdc_dir: "str | None",
    key: str,
    tomb: "str | None",
    skip_cols: "list[str]",
    data_cols: "list[str]",
    cdc_cols: "list[str]",
) -> "list[dict]":
    """The single job behind a MERGE commit. ``clustered`` is the
    touched files' rows (``__src`` 0) unioned with the change set
    (``__src`` 1), key-range partitioned — every row of a key lands in
    one partition — and sorted within partitions on (key NULLS FIRST,
    order_col DESC, ``__src`` DESC), so each key group arrives
    contiguous with its winner first (a change beats a stored row on an
    ``order_col`` tie). Each task resolves its groups over the sorted
    Arrow stream with numpy:

    * a group with no change row passes through verbatim (untouched
      keys of rewritten files, blind-append duplicates included);
    * a contested group keeps its first row unless that row is a
      tombstone (``tomb`` true);
    * with ``cdc_dir`` set, a contested group whose table state moves —
      the change side won, or stored duplicates collapse (``oldn`` > 1)
      — emits Delta-CDF images: the surviving winner as ``insert``
      (no stored row) or ``update_postimage``, and every stored row as
      ``update_preimage``, or ``delete`` when the winner is a
      tombstone. A stored winner over a lone stored row emits nothing.

    NULL keys form one group. The rows of the last key of a batch are
    held back until the next batch (or the end of the partition), since
    a group can straddle Arrow batches. ``cdc_cols`` lists the image
    columns; a ``tomb`` column among them (a stored column of that name)
    reads NULL on post images, as the data files drop it."""

    def _merge_one_partition(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        data = _PartFile(commit_dir, "add", key, skip_cols)
        cdc = _PartFile(cdc_dir, "cdc") if cdc_dir is not None else None

        def starts_of(t) -> "np.ndarray":
            # True where a new key group starts; NULL (and NaN) keys
            # compare equal to each other, as in Spark's grouping
            kc = t.column(key).combine_chunks()
            st = np.ones(len(kc), dtype=bool)
            if len(kc) > 1:
                a, b = kc.slice(1), kc.slice(0, len(kc) - 1)
                ne = pc.fill_null(pc.not_equal(a, b), True)
                same = pc.and_(a.is_null(), b.is_null())
                if pa.types.is_floating(kc.type):
                    nan = pc.fill_null(pc.is_nan(kc), False)
                    same = pc.or_(
                        same, pc.and_(nan.slice(1), nan.slice(0, len(kc) - 1))
                    )
                st[1:] = pc.and_not(ne, same).to_numpy(zero_copy_only=False)
            return st

        def resolve(t, st) -> None:
            m = t.num_rows
            gs = np.flatnonzero(st)
            size = np.diff(np.append(gs, m))
            gid = np.repeat(np.arange(len(gs)), size)
            src = t.column("__src").to_numpy()
            chg = np.add.reduceat(src, gs)  # change rows per group
            oldn = size - chg  # stored rows per group
            dead = (
                pc.fill_null(t.column(tomb), False).to_numpy()
                if tomb is not None
                else np.zeros(m, dtype=bool)
            )
            contested = (chg > 0)[gid]
            keep = ~contested | (st & ~dead)
            data.write(t.filter(pa.array(keep)).select(data_cols))
            if cdc is None:
                return
            moved = ((chg > 0) & ((src[gs] == 1) | (oldn > 1)))[gid]
            post = np.flatnonzero(st & moved & ~dead)
            pre = np.flatnonzero((src == 0) & moved)
            if not len(post) + len(pre):
                return
            kinds = np.concatenate([
                np.where(oldn[gid[post]] == 0, "insert", "update_postimage"),
                np.where(dead[gs][gid[pre]], "delete", "update_preimage"),
            ])
            out = t.take(pa.array(np.concatenate([post, pre]))).select(cdc_cols)
            if tomb in cdc_cols:
                i = cdc_cols.index(tomb)
                is_post = pa.array(np.arange(len(kinds)) < len(post))
                out = out.set_column(i, tomb, pc.if_else(
                    is_post, pa.scalar(None, out.schema[i].type), out.column(i)
                ))
            cdc.write(out.append_column(
                "_change_type", pa.array(kinds, pa.string())
            ))

        carry = carry_st = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            t = pa.Table.from_batches([batch])
            if carry is not None:
                t = pa.concat_tables([carry, t])
            t = t.combine_chunks()
            st = starts_of(t)
            last = int(np.flatnonzero(st)[-1])
            if last:
                resolve(t.slice(0, last), st[:last])
            carry, carry_st = t.slice(last), st[last:]
        if carry is not None:
            resolve(carry, carry_st)
        return [data.close(), cdc.close() if cdc is not None else None]

    return _run_writer(clustered, _merge_one_partition)


class TxnLogTable:
    """Delta-style ACID table over parquet + an ordered JSON commit log."""

    # data-skipping stats cover the first N leaf columns (Delta's
    # dataSkippingNumIndexedCols default): bounding the per-add payload
    # keeps the commit log O(files x N), never O(files x width)
    STATS_COLUMNS = 32

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        order_col: str,
        files_per_commit: int = 4,
        checkpoint_interval: int = 10,
        change_feed: bool = False,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.key = key
        self.order_col = order_col
        self.files_per_commit = files_per_commit
        self.checkpoint_interval = checkpoint_interval
        # change_feed=True makes every MERGE also write row-level change
        # files (pre/post images tagged _change_type) classified by the
        # merge's own write pass; read_changes/read_deltas then
        # replay O(changed rows) for that commit instead of re-emitting
        # every row of the rewritten files. Reading is data-driven (a
        # commit with cdc actions uses them regardless of this flag), so
        # feeds spanning the flag being turned on stay correct.
        self.change_feed = change_feed
        self.log_dir = f"{self.path}/_txn_log"

    # -- Hadoop FS plumbing (works on file:/, HDFS) -------------------------

    @functools.cached_property
    def _jvm(self) -> SimpleNamespace:
        """The JVM classes and the FileSystem the log plumbing calls,
        resolved ONCE per table: every dotted ``spark._jvm`` step is a
        py4j reflection round trip, so resolving them per call made a
        commit-body read cost ~17 round trips instead of ~6."""
        jvm = self.spark._jvm
        path_cls = jvm.org.apache.hadoop.fs.Path
        return SimpleNamespace(
            Path=path_cls,
            fs=path_cls(self.path).getFileSystem(
                self.spark._jsc.hadoopConfiguration()
            ),
            IOUtils=jvm.org.apache.commons.io.IOUtils,
            FileUtil=jvm.org.apache.hadoop.fs.FileUtil,
            ArrayUtils=jvm.org.apache.commons.lang3.ArrayUtils,
        )

    def _fs(self, p: str):
        """(FileSystem, Hadoop Path) for ``p`` — every path the table
        touches lives under its root, so one FileSystem serves all."""
        return self._jvm.fs, self._jvm.Path(p)

    def _write_text_atomic(self, dest: str, body: str) -> bool:
        """Publish ``body`` at ``dest`` with put-if-absent semantics;
        False = another writer already published this version (the
        optimistic-concurrency signal).

        The body is first written COMPLETELY to a temp file, then made
        visible in one atomic step, so a reader can never observe partial
        content:

        * ``file:`` — POSIX ``link(2)``: creating a hard link fails with
          EEXIST when the destination exists and is atomic. (A plain
          rename is NOT a publish arbiter here: rename(2) silently
          REPLACES an existing destination, so two racers would both
          believe they won.)
        * other schemes — Hadoop ``rename``, which on HDFS is atomic
          server-side and fails when the destination exists. Object
          stores whose rename is copy-or-replace (raw S3A) need an
          external coordination service, exactly as Delta's LogStore
          documents; this module targets posix/HDFS semantics.

        A writer that crashes before the link/rename leaves only an
        orphan temp file (cleaned by :meth:`vacuum`); the version number
        it was attempting stays available, keeping the log dense."""
        fs, dpath = self._fs(dest)
        if fs.exists(dpath):
            return False
        tmp = f"{self.log_dir}/.tmp-{uuid.uuid4().hex}"
        if fs.getUri().getScheme() == "file":
            import errno
            import os as _os

            local_tmp = _canon(tmp)
            local_dst = _canon(dest)
            _os.makedirs(_os.path.dirname(local_tmp), exist_ok=True)
            with open(local_tmp, "w", encoding="utf-8") as fh:
                fh.write(body)
            try:
                _os.link(local_tmp, local_dst)
                ok = True
            except OSError as exc:
                if exc.errno != errno.EEXIST:
                    raise
                ok = False
            _os.unlink(local_tmp)
            return ok
        _, tpath = self._fs(tmp)
        out = fs.create(tpath, False)
        try:
            out.write(bytearray(body.encode("utf-8")))
        finally:
            out.close()
        ok = bool(fs.rename(tpath, dpath))
        if not ok:
            fs.delete(tpath, False)
        return ok

    def _read_text(self, p: str) -> str:
        # py4j cannot fill a Python bytearray in place (readFully mutates
        # only the Java-side copy) — use commons-io to drain the stream
        fs, jpath = self._fs(p)
        stream = fs.open(jpath)
        try:
            return self._jvm.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    # -- log access ---------------------------------------------------------

    def _log_listing(self) -> "tuple[list[int], list[int]]":
        """One directory listing -> (commit versions, checkpoint versions),
        both sorted. Checkpoints are found from the same listing as the
        commits — there is no mutable pointer file whose half-written
        state a reader could trip over."""
        fs, jpath = self._fs(self.log_dir)
        if not fs.exists(jpath):
            return [], []
        # the entry paths come back as ONE string built JVM-side
        # ("{p1,p2,...}"): iterating the FileStatus array from Python
        # costs two py4j round trips per entry, so every fold would grow
        # with the table's age. Log names start with a digit; temp files
        # (".tmp-*") and the fragments a comma inside the directory path
        # splits off do not.
        joined = self._jvm.ArrayUtils.toString(
            self._jvm.FileUtil.stat2Paths(fs.listStatus(jpath))
        )
        commits, ckpts = [], []
        for p in joined[1:-1].split(","):
            name = p.rsplit("/", 1)[-1]
            if not name[:1].isdigit():
                continue
            if name.endswith(".checkpoint.json"):
                ckpts.append(int(name[: -len(".checkpoint.json")]))
            elif name.endswith(".json"):
                commits.append(int(name[: -len(".json")]))
        return sorted(commits), sorted(ckpts)

    def _list_versions(self) -> "list[int]":
        return self._log_listing()[0]

    def latest_version(self) -> int:
        vs = self._list_versions()
        return vs[-1] if vs else -1

    def _commit_path(self, version: int) -> str:
        return f"{self.log_dir}/{version:020d}.json"

    def _read_commit(self, version: int) -> dict:
        return json.loads(self._read_text(self._commit_path(version)))

    def _read_checkpoint(self, version: int) -> "dict | None":
        """Checkpoint body at ``version``, or None if unreadable — a
        corrupt/in-flight checkpoint only costs replay time, never
        correctness (the caller falls back to a longer log replay)."""
        try:
            return json.loads(
                self._read_text(f"{self.log_dir}/{version:020d}.checkpoint.json")
            )
        except Exception:
            return None

    def _base_checkpoint(
        self, version: int, ckpts: "list[int] | None" = None
    ) -> "tuple[int, dict] | None":
        """Newest readable checkpoint at or before ``version``;
        ``ckpts`` is the checkpoint list of a listing already in hand."""
        if ckpts is None:
            _, ckpts = self._log_listing()
        for cv in reversed(ckpts):
            if cv <= version:
                body = self._read_checkpoint(cv)
                if body is not None:
                    return cv, body
        return None

    def _fold_log(
        self,
        version: "int | None" = None,
        listing: "tuple[list[int], list[int]] | None" = None,
    ) -> dict:
        """ONE log listing + ONE checkpoint read + ONE tail pass producing
        the complete table state at ``version`` (default: latest): live
        adds, per-app txn high-water marks, the recorded schema JSON,
        constraints and properties — plus ``version``, the version
        folded (-1 for a table with no commits), and ``versions``, the
        commit versions of the listing the fold was built from (so the
        head is ``versions[-1]``). Every metadata consumer (snapshot,
        schema lookup, txn guard, commit loop, feeds, checkpoint writer)
        goes through this single fold, so "what is the head" and "what
        is the state" come from the same listing and a read never
        replays the same tail twice. The log is dense (see
        ``_write_text_atomic``), so a checkpoint at ``c`` covers exactly
        the commits ``0..c`` and the tail replay ``c+1..version`` misses
        nothing. ``listing`` is a :meth:`_log_listing` already in hand
        (an op that needs the head before it knows which version to
        fold)."""
        versions, ckpts = listing or self._log_listing()
        if version is None:
            version = versions[-1] if versions else -1
        state = {
            "adds": {},
            "txns": {},
            "schema": None,
            "constraints": {},
            "properties": {},
            "version": -1,
            "versions": versions,
        }
        ckpt = self._base_checkpoint(version, ckpts)
        if ckpt is not None:
            cv, body = ckpt
            state.update(
                adds={a["path"]: a for a in body["adds"]},
                txns={k: int(v) for k, v in body.get("txns", {}).items()},
                schema=body.get("schema"),
                constraints=dict(body.get("constraints", {})),
                properties=dict(body.get("properties", {})),
                version=cv,
            )
        for v in versions:
            if state["version"] < v <= version:
                _fold_step(state, v, self._read_commit(v))
        state["version"] = version
        return state

    def _commit_times(
        self, versions: "list[int]", body
    ) -> "list[tuple[int, float]]":
        """(version, publish-time epoch seconds) for ``versions`` — the
        commit versions of one listing, oldest first — where ``body(v)``
        reads commit ``v``. The authoritative time is the ``ts`` recorded
        INSIDE the commit body at publish (UTC epoch, immune to
        copy/rsync disturbing file mtimes); only a commit from before
        that field existed costs a ``getFileStatus`` for its file mtime.
        Times are made MONOTONE non-decreasing (each stamped at least its
        predecessor — Delta's rule for AS OF resolution), so clock skew
        between writers can never make timestamp travel
        non-deterministic. Commit bodies are immutable, so resolved times
        are cached per instance — the steady-state cost is the unseen
        tail."""
        cache = self.__dict__.setdefault("_commit_ts_cache", {})
        out = []
        prev = float("-inf")
        for v in versions:
            if v not in cache:
                ts = body(v).get("ts")
                if ts is None:
                    fs, jpath = self._fs(self._commit_path(v))
                    ts = fs.getFileStatus(jpath).getModificationTime() / 1000.0
                cache[v] = float(ts)
            prev = max(prev, cache[v])
            out.append((v, prev))
        return out

    def detail(self) -> dict:
        """DESCRIBE DETAIL twin: current snapshot shape from LOG METADATA
        alone (zero data jobs — file and row counts come from the add
        stats every commit records)."""
        state = self._fold_log()
        adds = list(state["adds"].values())
        return {
            "path": self.path,
            "version": state["version"],
            "num_files": len(adds),
            "num_rows": sum(int(a.get("rows") or 0) for a in adds),
            "size_bytes": sum(int(a.get("bytes") or 0) for a in adds),
            "key": self.key,
            "order_col": self.order_col,
            "schema": state["schema"],
            "constraints": dict(state["constraints"]),
            "properties": dict(state["properties"]),
            "change_feed": self.change_feed,
            "vacuum_watermark": self._vacuum_watermark(),
        }

    def version_at(self, timestamp) -> int:
        """AS OF TIMESTAMP resolution: the greatest version published at
        or before ``timestamp`` (epoch seconds, a datetime, or an ISO
        string). Naive datetimes/strings are interpreted as UTC — a
        stated divergence from Delta, which resolves naive timestamps in
        the SESSION timezone: the commit log records publish times as
        epoch seconds, so UTC resolution is identical on every machine
        regardless of the driver's TZ environment; pass an explicit
        offset (``...+05:00``) to resolve in another zone. Resolution reads the publish time recorded
        inside each commit body, so it does not depend on filesystem
        mtimes. Raises if the timestamp predates the table's first
        commit — there is no state to read there."""
        return self._version_at(timestamp, self._list_versions())

    def _version_at(self, timestamp, versions: "list[int]") -> int:
        """:meth:`version_at` over the commit ``versions`` of a listing
        already in hand."""
        import datetime as _dt

        if isinstance(timestamp, str):
            timestamp = _dt.datetime.fromisoformat(timestamp)
        if isinstance(timestamp, _dt.datetime):
            if timestamp.tzinfo is None:
                timestamp = timestamp.replace(tzinfo=_dt.timezone.utc)
            ts = timestamp.timestamp()
        else:
            ts = float(timestamp)
        times = self._commit_times(versions, self._read_commit)
        candidates = [v for v, t in times if t <= ts]
        if not candidates:
            raise ValueError(
                f"no commit at or before timestamp {timestamp!r} "
                "(the table did not exist yet)"
            )
        return candidates[-1]

    def history(self) -> "list[dict]":
        """Commit metadata, oldest first — op, version, txn, file deltas,
        publish timestamp (monotone, epoch seconds). One listing; each
        commit body is read at most once."""
        versions = self._list_versions()
        body = functools.cache(self._read_commit)
        times = dict(self._commit_times(versions, body))
        out = []
        for v in versions:
            c = body(v)
            out.append(
                {
                    "version": v,
                    "op": c["op"],
                    "txn": c.get("txn"),
                    "n_add": sum(1 for a in c["actions"] if "add" in a),
                    "n_remove": sum(1 for a in c["actions"] if "remove" in a),
                    "timestamp": times[v],
                }
            )
        return out

    def txn_high_water(self, app_id: str) -> int:
        """Highest committed ``batch_id`` for ``app_id`` (-1 if none).
        Reads ONE checkpoint (which carries per-app high-water marks) plus
        the log tail — O(tail), never O(commits). Doubles as the durable
        CURSOR for incremental consumers that stamp their progress as the
        txn batch id (see ``sources/incremental.py``)."""
        return int(self._fold_log()["txns"].get(app_id, -1))

    def txn_seen(self, app_id: str, batch_id: int) -> bool:
        """Has ``(app_id, batch_id)`` (or a later batch of the same app)
        already committed? The exactly-once guard for replayed batches."""
        return batch_id <= self.txn_high_water(app_id)

    # -- data-file writing --------------------------------------------------

    def _stats_boundaries_for(
        self, df: DataFrame, n_files: int, range_sources
    ) -> "list | None":
        """Driver-derived range boundaries for a MERGE write, or None
        to fall back to ``repartitionByRange``'s sampling job.
        ``range_sources`` is the caller's zero-cost knowledge of the
        incoming key distribution — the touched files' recorded
        (min_key, max_key, rows) stats plus the change set's bounds+count
        (already computed for file pruning) — so deriving the boundaries
        costs NO job. Only numeric keys interpolate; anything else keeps
        the sampled path (string quantiles cannot be modeled from
        min/max)."""
        if range_sources is None or n_files <= 1:
            return None
        t = df.schema[self.key].dataType.simpleString()
        if t not in (
            "tinyint", "smallint", "int", "bigint", "float", "double"
        ):
            return None
        bounds = _stats_range_boundaries(range_sources, n_files)
        if bounds is None:
            return None
        if t in ("tinyint", "smallint", "int", "bigint"):
            import math

            bounds = [int(math.floor(b)) for b in bounds]
        return bounds

    def _cluster_by_key(
        self, df: DataFrame, n_files: int, cluster, boundaries, order=None
    ) -> DataFrame:
        """Key-range clustering for a commit write. With driver-derived
        ``boundaries`` (see ``_stats_boundaries_for``) the partition id
        is a pure row-local expression — count of boundaries below the
        key, NULLs first like ``repartitionByRange`` — routed EXACTLY to
        its shuffle partition via the murmur3 preimage literals
        (``_partition_preimages``), killing the extra range-sampling job
        per write (guide §2.4; r16 deferral #3). Bucketing stays
        monotone in the key either way, so the written files are
        key-range DISJOINT exactly as before — stats-pruning correctness
        never depends on how well the boundaries balance file sizes.
        Without boundaries: the classic sampled range partitioning.
        Either way every row of one key lands in one partition, sorted
        on ``order`` (default: the cluster expression)."""
        order = order or [cluster]
        if boundaries is None:
            return df.repartitionByRange(
                n_files, cluster
            ).sortWithinPartitions(*order)
        return df.repartition(
            len(boundaries) + 1, _range_route(cluster, boundaries)
        ).sortWithinPartitions(*order)

    def _write_data_files(
        self, df: DataFrame, cluster_expr=None, n_files: "int | None" = None
    ) -> "list[dict]":
        """Write ``df`` key-range clustered into a fresh immutable commit
        directory; return add actions carrying per-file [min,max] key
        stats (what MERGE prunes on) plus the file's on-disk ``bytes``
        (what size-targeted compaction bins on).

        ONE PASS, ONE JOB (r15 verdict #4): the write and the stats are
        the SAME job — ``mapInArrow`` streams each range partition
        through a pyarrow ``ParquetWriter`` (one file per non-empty
        partition, named by partition id) while folding min/max/null
        counts over the Arrow batches it writes, and the job's OUTPUT is
        the per-file stats row. The previous shape wrote via Spark's
        writer and then re-read the whole commit directory in a second
        job grouped by ``input_file_name()`` — the data crossed the
        scratch filesystem twice per commit, which the io canary showed
        dominating the commit-COUNT-bound feed benchmarks. This is the
        same design point as Delta's writer-side stats collection:
        statistics are a byproduct of the write, never a rescan.

        Task-retry safety: the final file name is a pure function of the
        partition id inside a fresh-UUID commit dir; each attempt writes
        an attempt-unique temp file and moves it into place (atomic
        rename on local/HDFS — on object stores the move is copy+delete,
        acceptable because the dir is unreferenced until the commit
        publishes and partition contents are deterministic). Spark
        surfaces only the committed attempt's output rows, so stats are
        never duplicated. Empty partitions write nothing and yield
        nothing — exactly the files a snapshot should not reference.

        ``cluster_expr`` overrides the default key-range clustering
        (used by Z-order optimize); files are additionally sorted within
        partitions on the cluster expression so parquet row-group
        min/max stats stay tight. ``n_files`` overrides the table's
        ``files_per_commit`` (used by size-targeted compaction to emit
        ~target-size outputs)."""
        cluster = cluster_expr if cluster_expr is not None else F.col(self.key)
        clustered = self._cluster_by_key(
            df, n_files or self.files_per_commit, cluster, None
        )
        # __zorder_* are clustering scaffolding (bucket ids + z-value),
        # projected away after the range partition + sort consumed them —
        # they never land in the data files
        clustered = clustered.drop(
            *[c for c in clustered.columns if c.startswith("__zorder_")]
        )
        commit_dir = self._new_dir("files")
        records = _fused_write_partitions(
            clustered, commit_dir, "add", self.key,
            self._skip_cols(clustered.schema),
        )
        return sorted(map(_add_action, records), key=lambda a: a["path"])

    def _skip_cols(self, schema: StructType) -> "list[str]":
        """Per-column data-skipping stats (Delta's dataSkipping rule):
        min/max/null-count for the first STATS_COLUMNS leaf columns of
        integral/floating/string type. Strings are recorded only when
        both extremes are short (<= 64 chars) — a truncated max
        understates the file's upper bound and would prune files that
        DO match, so long-string columns record None (= never pruned
        on) instead of lying. JSON-storable by construction."""
        return [
            fld.name
            for fld in schema.fields[: self.STATS_COLUMNS]
            if fld.dataType.simpleString().split("(")[0]
            in ("tinyint", "smallint", "int", "bigint", "float", "double",
                "string")
        ]

    def _new_dir(self, kind: str) -> str:
        """A fresh, unreferenced commit directory under ``kind``
        (``files`` or ``changes``). Only named here: the first file
        written into it creates it, so a write that produces no file
        (a DML that matched nothing) leaves nothing behind."""
        return f"{self.path}/{kind}/c-{uuid.uuid4().hex}"

    def _cdc_paths(
        self, records: "list[dict]", cdc_dir: str, schema: StructType
    ) -> "list[str]":
        """The change-file paths among a commit write's records. A
        change-feed commit ALWAYS records change files, even when it
        produced zero change rows (every change row lost to a stored
        winner): downstream cursors read "cdc actions present, zero
        rows" as a replayable empty span, while a commit with NO cdc
        actions is indistinguishable from a legacy pre-change-feed
        merge — the typed feed's fidelity guard refuses those. So an
        empty ``schema``-shaped file is written driver-side then (no
        job; the rare shape never occurs on row-moving commits)."""
        paths = sorted(
            _canon_uri(r["path"]) for r in records if r["kind"] == "cdc"
        )
        if paths:
            return paths
        import pyarrow.parquet as _pq
        from pyarrow import fs as _pafs
        from pyspark.sql.pandas.types import to_arrow_schema

        fsys, root = _pafs.FileSystem.from_uri(cdc_dir)
        fsys.create_dir(root)
        p = f"{root}/part-00000.parquet"
        _pq.write_table(
            to_arrow_schema(schema).empty_table(), p, filesystem=fsys
        )
        return [_canon_uri(p)]

    def _widened_schema_json(
        self, prev_json: "str | None", df_schema: StructType
    ) -> str:
        """Schema evolution only WIDENS (Delta's mergeSchema rule): the
        recorded table schema after a commit is the previous recorded
        schema plus any genuinely new columns of the batch, never the
        batch schema verbatim. Recording a narrow batch's schema as-is
        silently NARROWS the table — and because merge/optimize read
        touched/live files under the recorded schema, the next rewrite
        physically destroys every row's values in the dropped column
        (found by the r10 ACID history fuzz: a non-evolved append after
        an evolved merge erased the evolved column from unrelated keys).
        Names match by exact string. There is NO type evolution: a batch
        whose same-named column carries a DIFFERENT type is rejected
        before any data file lands — silently accepting it would write
        files the recorded schema cannot read back (the vectorized
        parquet reader errors on a long file read as int), i.e. a
        poisoned table. NullType (uncast ``lit(None)``) columns never
        reach this check: ``_align_void_columns`` casts them to the
        recorded type first (parquet would otherwise store them as
        BOOLEAN — unreadable under any real type)."""
        if not prev_json:
            return df_schema.json()
        prev = StructType.fromJson(json.loads(prev_json))
        by_name = {f.name: f for f in prev.fields}
        conflicts = [
            (f.name, by_name[f.name].dataType.simpleString(),
             f.dataType.simpleString())
            for f in df_schema.fields
            if f.name in by_name
            # simpleString comparison: nullability-insensitive (nested
            # containsNull/valueContainsNull flags differ harmlessly
            # between createDataFrame and parquet round-trips)
            and f.dataType.simpleString()
            != by_name[f.name].dataType.simpleString()
        ]
        if conflicts:
            detail = ", ".join(
                f"{n!r} is {old}, batch has {new}" for n, old, new in conflicts
            )
            raise ValueError(
                f"batch column type conflicts with the recorded table "
                f"schema ({detail}); schema evolution adds columns, never "
                "changes a column's type"
            )
        extra = [f for f in df_schema.fields if f.name not in by_name]
        if not extra:
            # keep the stored json verbatim: stable schema-epoch keys for
            # the feeds (a byte-identical epoch groups into one scan)
            return prev_json
        return StructType(list(prev.fields) + extra).json()

    def _align_void_columns(
        self, df: DataFrame, schema_json: "str | None"
    ) -> DataFrame:
        """Cast NullType (uncast ``lit(None)``) batch columns to the
        RECORDED type — parquet stores a void column as BOOLEAN, which no
        real type can read back, so left alone it poisons the file. A
        void column the table does not know is rejected outright: there
        is no type to land it as."""
        voids = [
            f.name for f in df.schema.fields if f.dataType.typeName() == "void"
        ]
        if not voids:
            return df
        recorded = (
            {
                f.name: f.dataType
                for f in StructType.fromJson(json.loads(schema_json)).fields
            }
            if schema_json
            else {}
        )
        unknown = sorted(set(voids) - set(recorded))
        if unknown:
            raise ValueError(
                f"column(s) {unknown} are untyped NULL (void) and not in "
                "the table schema — cast them to a concrete type "
                "(F.lit(None).cast(...))"
            )
        for c in voids:
            df = df.withColumn(c, F.col(c).cast(recorded[c]))
        return df

    def _try_commit(
        self,
        version: int,
        op: str,
        actions: "list[dict]",
        txn: "dict | None",
        schema: "str | None" = None,
    ) -> bool:
        if txn is not None and "expect" in txn:
            # ``expect`` is the caller's compare-and-set input, not part of
            # the durable txn action — strip it from the committed body
            txn = {k: v for k, v in txn.items() if k != "expect"}
        body = json.dumps(
            {
                "version": version,
                "op": op,
                "actions": actions,
                "txn": txn,
                "schema": schema,
                # in-commit publish time (UTC epoch): AS OF resolution and
                # history() read THIS, not the commit file's mtime, so
                # copying/rsyncing a table does not rewrite its timeline
                # (Delta's in-commit-timestamp rule). Legacy commits
                # without it fall back to mtime in _commit_mtimes.
                "ts": round(time.time(), 6),
            }
        )
        ok = self._write_text_atomic(self._commit_path(version), body)
        if ok and version % self.checkpoint_interval == 0 and version > 0:
            self._write_checkpoint(version)
        return ok

    def _write_checkpoint(self, version: int) -> None:
        """Materialize the full state at ``version``: live adds, per-app
        txn high-water marks, current schema. The log is dense, so every
        commit ``<= version`` is published at this point and the fold
        misses nothing. Content is a pure function of the immutable
        commits ``0..version`` — two writers racing the same checkpoint
        produce identical bodies and put-if-absent keeps one."""
        state = self._fold_log(version)
        self._write_text_atomic(
            f"{self.log_dir}/{version:020d}.checkpoint.json",
            json.dumps(
                {
                    "version": version,
                    "adds": list(state["adds"].values()),
                    "txns": state["txns"],
                    "schema": state["schema"],
                    "constraints": state["constraints"],
                    "properties": state["properties"],
                }
            ),
        )

    def _commit(
        self,
        op: str,
        attempt,
        txn: "dict | None" = None,
        max_retries: int = 20,
        state: "dict | None" = None,
    ) -> "tuple[int | None, dict, list[dict] | None]":
        """The optimistic-concurrency protocol every write op commits
        through. Each attempt works against ONE fold of the log
        (:meth:`_fold_log`, or the caller's ``state`` for the first):

        * a ``txn`` whose batch the fold already records is a replay —
          return without committing; a ``txn`` whose ``expect`` is not
          the app's high-water mark raises :class:`CursorAdvanced` (a
          concurrent consumer of the same app_id folded the span first);
        * ``attempt(state)`` returns None (nothing to commit) or
          ``(actions, schema_json, read_paths)``;
        * the commit is published at ``state["version"] + 1`` with
          :meth:`_try_commit`.

        Why one fold per attempt suffices: the log is dense and the
        publish is put-if-absent (``_write_text_atomic``), so version
        ``v + 1`` can be won only by a writer whose fold saw ``v`` as
        the head — whatever ``attempt`` checked against the fold
        (constraints, schema, txn cursor, the files it read) held when
        the commit landed. The same argument makes it safe to reuse the
        fold a caller already made for its own preparation: any commit
        that landed after it occupies ``v + 1``, the publish fails, and
        a stale fold is never committed on. A lost race folds the log
        once more; that fold serves the conflict check — a competing
        commit that removed any of ``read_paths`` raises
        :class:`ConcurrentModification`, since those rows may have
        changed — and the next attempt.

        Returns ``(version, state, actions)``: the committed version, the
        fold it won on and its actions; for a replay the fold's version
        and None actions; when ``attempt`` had nothing to commit, None
        and None."""
        for _ in range(max_retries):
            if state is None:
                state = self._fold_log()
            if _replayed(state, txn):
                return state["version"], state, None
            if txn is not None and txn.get("expect") is not None:
                hw = int(state["txns"].get(txn["app_id"], -1))
                if hw != int(txn["expect"]):
                    raise CursorAdvanced(
                        f"txn cursor for {txn['app_id']!r} advanced to {hw} "
                        f"(expected {txn['expect']}): a concurrent consumer "
                        "already folded this span"
                    )
            planned = attempt(state)
            if planned is None:
                return None, state, None
            actions, schema, read = planned
            version = state["version"] + 1
            if self._try_commit(version, op, actions, txn, schema):
                return version, state, actions
            state = self._fold_log()
            if any(p not in state["adds"] for p in read):
                raise ConcurrentModification(
                    f"a competing commit rewrote files this {op} read"
                )
        raise ConcurrentModification(
            f"{op} lost the commit race {max_retries} times"
        )

    # -- public write ops ---------------------------------------------------

    def initialize(self, schema: StructType) -> int:
        """CTAS on a new/empty path: publish a data-free ``create`` commit
        carrying the schema, so ``read()`` of the empty table returns an
        empty DataFrame of the right shape instead of raising. No-op if
        the table already has commits."""
        v = self.latest_version()
        if v >= 0:
            return v
        if self._try_commit(0, "create", [], None, schema.json()):
            return 0
        return self.latest_version()

    def record_txn(
        self,
        app_id: str,
        batch_id: int,
        max_retries: int = 20,
        expect: "int | None" = None,
    ) -> int:
        """Publish a data-free commit carrying only a ``(app_id,
        batch_id)`` txn action — how an incremental consumer advances its
        durable cursor over a source span that produced no rows to write
        (e.g. only optimize/create commits). Idempotent: an
        already-recorded (or later) batch id is a no-op. ``expect`` is a
        compare-and-set on the app's current high-water mark (same
        contract as :meth:`merge`): raise :class:`CursorAdvanced` when a
        concurrent consumer of the same app_id moved it first."""
        txn = {"app_id": app_id, "batch_id": int(batch_id)}
        if expect is not None:
            txn["expect"] = int(expect)
        return self._commit(
            "txn", lambda state: ([], None, []), txn, max_retries
        )[0]

    # -- CHECK constraints ----------------------------------------------------

    def constraints(self) -> "dict[str, str]":
        """Active CHECK constraints (name -> SQL expression)."""
        return dict(self._fold_log()["constraints"])

    def add_constraint(
        self, name: str, expr: str, max_retries: int = 20
    ) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (expr): refuses if any
        EXISTING row violates the expression (one aggregate pass — the
        Delta rule: a constraint is only ever true of the whole table),
        then publishes a data-free ``alter`` commit. Every subsequent
        append/merge/update validates its written rows in one aggregate
        job and raises :class:`ConstraintViolation` instead of
        committing. SQL CHECK semantics: NULL passes, only FALSE
        violates.

        Every commit attempt re-validates the whole snapshot of the fold
        it commits on (see :meth:`_commit`), so a racing writer can never
        land rows the new constraint has not seen (Delta's
        metadata-conflict rule, mirrored from the writer side in
        append/merge)."""

        def attempt(state):
            if state["version"] >= 0:
                self._enforce_constraints(
                    self._scan(state), {name: expr}, "existing rows"
                )
            return [{"constraint_add": {"name": name, "expr": expr}}], None, []

        return self._commit("alter", attempt, max_retries=max_retries)[0]

    def add_columns(self, coldefs, max_retries: int = 20) -> int:
        """ALTER TABLE ADD COLUMNS (Delta's explicit schema-evolution
        DDL): publish a data-free ``alter`` commit carrying the widened
        schema. Existing data files stay untouched — readers project the
        new columns as NULL (the same narrow-file rule appended narrow
        batches rely on), so the op is O(log), never O(table). Raises if
        a named column already exists (a typo must never silently no-op
        — the mirror of the INSERT unknown-column guard) or if the table
        has no recorded schema yet. ``coldefs`` is a StructType or Spark
        DDL text ("y DOUBLE, z STRING")."""
        frag = (
            StructType.fromDDL(coldefs)
            if isinstance(coldefs, str)
            else coldefs
        )

        def attempt(state):
            if not state["schema"]:
                raise ValueError(
                    "ADD COLUMNS needs a recorded schema — initialize() "
                    "or write data first"
                )
            cur = StructType.fromJson(json.loads(state["schema"]))
            # case-INSENSITIVE duplicate check: Spark resolves
            # identifiers case-insensitively by default, so admitting a
            # case-variant duplicate (k + K) would make every subsequent
            # reference ambiguous — a bricked table
            have = {f.name.lower() for f in cur.fields}
            dup = sorted(
                f.name for f in frag.fields if f.name.lower() in have
            )
            if dup:
                raise ValueError(
                    f"ADD COLUMNS: column(s) {dup} already exist in the "
                    "recorded schema"
                )
            widened = StructType(list(cur.fields) + list(frag.fields))
            return [], widened.json(), []

        return self._commit("alter", attempt, max_retries=max_retries)[0]

    def properties(self) -> "dict[str, str]":
        """Active table properties (key -> value), folded through the
        log and checkpoints like constraints."""
        return dict(self._fold_log()["properties"])

    def set_property(
        self, key: str, value: str, max_retries: int = 20
    ) -> int:
        """ALTER TABLE SET TBLPROPERTIES: data-free ``alter`` commit.
        Properties are plain strings; the two the engine itself reads:

        * ``zorder.columns`` — comma-separated column list; a plain
          ``optimize()`` with no ``cluster_by`` re-clusters on it, so a
          table's chosen layout sticks across maintenance runs instead
          of living in whichever cron job remembered the argument.
        * ``auto_optimize.file_threshold`` — integer; after a
          successful append/merge whose snapshot exceeds this many live
          files, a best-effort compaction runs inline (lost races are
          swallowed — the next write retries it). Bounds the
          fragmentation a continuous-merge workload accumulates without
          an external maintenance scheduler."""
        action = {"property_set": {"key": str(key), "value": str(value)}}
        return self._commit(
            "alter", lambda state: ([action], None, []),
            max_retries=max_retries,
        )[0]

    def unset_property(self, key: str, max_retries: int = 20) -> int:
        """ALTER TABLE UNSET TBLPROPERTIES: data-free ``alter`` commit."""
        action = {"property_unset": {"key": str(key)}}
        return self._commit(
            "alter", lambda state: ([action], None, []),
            max_retries=max_retries,
        )[0]

    def drop_constraint(self, name: str, max_retries: int = 20) -> int:
        """ALTER TABLE DROP CONSTRAINT: data-free ``alter`` commit."""
        action = {"constraint_drop": {"name": name}}
        return self._commit(
            "alter", lambda state: ([action], None, []),
            max_retries=max_retries,
        )[0]

    def _enforce_constraints(
        self,
        df: DataFrame,
        constraints: "dict[str, str]",
        what: str,
        schema_json: "str | None" = None,
    ) -> None:
        """ONE aggregate job counts FALSE rows for every constraint at
        once over the write set; raises :class:`ConstraintViolation`
        naming each violated constraint with its row count. Columns the
        batch lacks (narrow batch after evolution) surface as NULL —
        they land NULL on disk, and CHECK-NULL passes."""
        if not constraints:
            return
        if schema_json:
            recorded = StructType.fromJson(json.loads(schema_json))
            for f in recorded.fields:
                if f.name not in df.columns:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        aggs = [
            F.sum(
                F.when(F.expr(e) == F.lit(False), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias(n)
            for n, e in sorted(constraints.items())
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {n: int(row[n]) for n in sorted(constraints) if row[n]}
        if bad:
            detail = ", ".join(
                f"{n!r} ({constraints[n]}): {c} row(s)" for n, c in bad.items()
            )
            raise ConstraintViolation(
                f"CHECK constraint(s) violated by {what}: {detail}"
            )

    def _maybe_auto_optimize(self, state: dict, actions: "list[dict]") -> None:
        """Best-effort inline compaction after a write: fires only when
        the ``auto_optimize.file_threshold`` property is set and the
        live file count exceeds it — and always through the SIZE-TARGETED
        bin-packed variant, so an inline trigger after an append/merge
        rewrites only the small-file debt (O(small files)), never the
        whole table. ``auto_optimize.target_file_bytes`` (default 128
        MiB) sets the bin target; files at or above half the target are
        never rewritten inline. Never raises — a lost race or a
        malformed threshold leaves compaction to the next write (the
        data is already safely committed).

        ``state`` is the fold the caller's commit won its CAS on and
        ``actions`` that commit's actions: the log is dense, so base
        fold + actions IS the committed state, and the common
        unset-threshold case costs no log read at all."""
        try:
            props = state["properties"]
            thr = props.get("auto_optimize.file_threshold")
            if not thr:
                return
            live = dict(state["adds"])
            for a in actions:
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
            if len(live) <= int(thr):
                return
            tgt = int(
                props.get("auto_optimize.target_file_bytes")
                or 128 * 1024 * 1024
            )
            # pre-check the candidate set from the state already in hand:
            # a snapshot whose files are all at/above the floor can sit
            # above the threshold forever (bounded compaction can't shrink
            # full-size files, by design) — skip the no-op optimize() so
            # every subsequent write pays ONE log fold, not two
            small = [
                a for a in live.values() if int(a.get("bytes") or 0) < tgt // 2
            ]
            if len(small) < 2:
                return
            self.optimize(target_file_bytes=tgt)
        except Exception:
            # the data commit already published — ANY compaction failure
            # (lost race, malformed threshold, Spark/IO error) must not
            # surface as a write failure; the next write retries
            pass

    def append(
        self,
        df: DataFrame,
        txn: "dict | None" = None,
        max_retries: int = 20,
    ) -> int:
        """Blind append: new files only. It reads no table files, so no
        competing commit conflicts with it: a lost publish race commits
        the already-written files on top of the winner."""
        st0 = self._fold_log()
        if _replayed(st0, txn):
            return st0["version"]
        df = self._align_void_columns(df, st0["schema"])
        if st0["constraints"]:
            # pin the rows: the CHECK aggregate and the data-file write
            # are two evaluations of this plan — a non-deterministic
            # input (rand(), a re-read of a moving source) must not
            # pass the check and then write different rows
            df = df.localCheckpoint(eager=True)
        self._enforce_constraints(
            df, st0["constraints"], "append batch", st0["schema"]
        )
        checked = dict(st0["constraints"])
        # fail type conflicts BEFORE any data file lands (the commit's
        # widen would refuse anyway, but only after writing orphan files
        # for vacuum to sweep)
        self._widened_schema_json(st0["schema"], df.schema)
        adds = self._write_data_files(df)
        actions = [{"add": a} for a in adds]

        def attempt(state):
            # a constraint added between the validated snapshot and this
            # commit base must hold for the batch too (Delta's metadata-
            # conflict rule): validate the delta against the WRITTEN
            # files — exactly the rows being committed, immune to a
            # non-deterministic source
            fresh = {
                n: e
                for n, e in state["constraints"].items()
                if checked.get(n) != e
            }
            if fresh and adds:
                written = self.spark.read.schema(df.schema).parquet(
                    *[a["path"] for a in adds]
                )
                self._enforce_constraints(
                    written, fresh,
                    "append batch (constraint added concurrently)",
                    state["schema"],
                )
            checked.update(fresh)
            # widen, never narrow: an append whose batch lacks an evolved
            # column must not drop that column from the recorded schema
            schema = self._widened_schema_json(state["schema"], df.schema)
            return actions, schema, []

        v, state, committed = self._commit(
            "append", attempt, txn, max_retries, st0
        )
        if committed is not None:
            self._maybe_auto_optimize(state, committed)
        return v

    def merge(
        self,
        changes: DataFrame,
        delete_col: "str | None" = None,
        txn: "dict | None" = None,
        max_retries: int = 5,
        changes_stable: bool = False,
    ) -> int:
        """Upsert (and optionally delete) by key — the MERGE statement's
        semantics: latest row per key wins by ``order_col`` (changes beat
        existing rows on ties; two CHANGE rows tying on both key and
        ``order_col`` are an input-contract violation — the winner among
        them is arbitrary, same caveat as any CDC apply, so feed batches
        with a strictly ordered ``order_col`` per key). A winning row
        whose ``delete_col`` is true deletes the key; ``delete_col`` is
        control metadata and never lands in the data files. NULL keys
        are one key. Keys the change set does not name keep every stored
        row verbatim (blind-append duplicates included).

        Only files whose [min,max] key range overlaps the incoming keys
        are rewritten (stats pruning), and the rewrite is ONE Spark job
        (:meth:`_write_merge_files`): the touched files' rows and the
        change set go through one key-range exchange, sorted so each
        key's rows arrive together winner-first, and one ``mapInArrow``
        kernel per range partition picks the winners, classifies the
        change images and writes the data file and (``change_feed``)
        the change file. A change-feed merge over numeric keys runs at
        most five jobs in all: the change-set checkpoint (skipped with
        ``changes_stable``), the bounds aggregate, and the write's
        shuffle-map and result jobs — plus a CHECK-constraint aggregate
        when constraints exist, and a range-sampling job for keys whose
        boundaries cannot be modeled from stats.

        A competing commit that removed a file this merge rewrites makes
        it raise ``ConcurrentModification`` (see :meth:`_commit`);
        otherwise a lost race re-runs the rewrite on the new snapshot."""
        st0 = self._fold_log()
        if _replayed(st0, txn):
            return st0["version"]
        changes = self._align_void_columns(changes, st0["schema"])
        # the change set is consumed by several jobs (bounds, constraint
        # check, the rewrite union, cdc writes): checkpoint ONCE so a
        # non-deterministic input (rand(), a re-read of a moving source)
        # cannot pass one evaluation and write different rows in the
        # next. ``changes_stable=True`` is the caller's contract that
        # the frame is deterministic and cheap to recompute (the common
        # feed shape: a filter over an already-checkpointed batch) — the
        # defensive checkpoint is then a pure fixed cost per commit and
        # is skipped (Delta's MERGE makes the same assumption about its
        # source by default).
        if not changes_stable:
            changes = changes.localCheckpoint(eager=True)
        to_check = changes
        if delete_col is not None and delete_col in changes.columns:
            # tombstones delete rows — their payload values never
            # land, so CHECK does not apply to them
            to_check = changes.filter(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            )
        # clean type-conflict refusal up front: without it the union
        # below surfaces as an opaque runtime CAST error (or worse, a
        # silent coercion) deep inside the merge plan
        self._widened_schema_json(st0["schema"], changes.schema)
        self._enforce_constraints(
            to_check, st0["constraints"], "merge change set", st0["schema"]
        )
        checked = dict(st0["constraints"])
        bounds = changes.agg(
            F.min(self.key).alias("lo"),
            F.max(self.key).alias("hi"),
            # min/max skip NULLs: a NULL merge key is a KEY (groupBy/window
            # semantics), not an absence — track it separately so an
            # all-NULL change set is not mistaken for an empty one
            F.max(F.col(self.key).isNull().cast("int")).alias("has_null"),
            # row count rides the same job: with the touched files'
            # recorded key stats it models the merged key distribution,
            # so the data write derives its range boundaries driver-side
            # instead of paying repartitionByRange's sampling job
            F.count(F.lit(1)).alias("n_changes"),
        ).collect()[0]
        null_changes = bool(bounds["has_null"])
        if bounds["lo"] is None and not null_changes:
            # empty change set: no data to write, but a caller that passed
            # txn semantics still needs its cursor advanced — silently
            # dropping the txn action strands the cursor forever (an
            # incremental consumer re-reads the same span every refresh,
            # and once vacuum moves the watermark past the stranded cursor
            # every refresh raises). record_txn carries the same
            # compare-and-set contract (``expect``) as the merge itself.
            if txn is None:
                return st0["version"]
            return self.record_txn(
                txn["app_id"], txn["batch_id"], expect=txn.get("expect")
            )

        def _overlaps(a: dict) -> bool:
            """A live file is touched if its non-NULL key range overlaps
            the change bounds, or if both sides carry NULL keys. None
            guards: a file of only-NULL keys has no range (legacy adds
            without the null_keys stat conservatively count as
            NULL-carrying)."""
            if (
                a["min_key"] is not None
                and bounds["lo"] is not None
                and not (a["max_key"] < bounds["lo"] or a["min_key"] > bounds["hi"])
            ):
                return True
            return null_changes and int(a.get("null_keys", 1) or 0) > 0

        def attempt(state):
            # a constraint added since the snapshot this merge validated
            # against must hold for the change set too
            fresh_c = {
                n: e
                for n, e in state["constraints"].items()
                if checked.get(n) != e
            }
            if fresh_c:
                self._enforce_constraints(
                    to_check, fresh_c,
                    "merge change set (constraint added concurrently)",
                    state["schema"],
                )
                checked.update(fresh_c)
            base_schema = _schema_of(state["schema"])
            touched = [a for a in state["adds"].values() if _overlaps(a)]
            # zero-job key-distribution model for the data write's range
            # boundaries: every touched file's recorded non-null key span
            # + the change set's bounds and count (all already in hand)
            range_sources = [
                (
                    a["min_key"],
                    a["max_key"],
                    int(a["rows"]) - int(a.get("null_keys") or 0),
                )
                for a in touched
            ] + [(bounds["lo"], bounds["hi"], int(bounds["n_changes"]))]
            stacked = changes.withColumn("__src", F.lit(1))
            # a stored column named like the tombstone stays in the
            # pre-images, as it was stored
            stored_tomb = False
            if touched:
                # read touched files under the RECORDED schema, not footer
                # inference: after schema evolution the touched set can mix
                # pre- and post-widening files, and an arbitrary narrow
                # footer would silently drop the evolved column from the
                # rewrite (permanent column loss once vacuum reclaims the
                # wide originals)
                reader = (
                    self.spark.read.schema(base_schema)
                    if base_schema is not None
                    else self.spark.read
                )
                old = reader.parquet(*[a["path"] for a in touched])
                stored_tomb = delete_col in old.columns
                # allowMissingColumns = schema evolution: a change set
                # with NEW columns widens the table (old rows read NULL);
                # a change row MISSING a column upserts NULL there — the
                # row image IS the change (CDC post-image semantics)
                stacked = old.withColumn("__src", F.lit(0)).unionByName(
                    stacked, allowMissingColumns=True
                )
            data_schema = StructType(
                [
                    f
                    for f in stacked.schema.fields
                    if f.name not in ("__src", delete_col)
                ]
            )
            adds, cdc_files = self._write_merge_files(
                stacked,
                data_schema,
                delete_col if delete_col in stacked.columns else None,
                stored_tomb,
                range_sources,
            )
            actions = (
                [{"add": a} for a in adds]
                + [{"remove": {"path": a["path"]}} for a in touched]
                + [{"cdc": {"path": p}} for p in cdc_files]
            )
            # widen, never narrow: a merge whose touched set missed the
            # wide files (or touched nothing) must not drop evolved
            # columns from the recorded schema
            schema = self._widened_schema_json(state["schema"], data_schema)
            return actions, schema, [a["path"] for a in touched]

        v, state, committed = self._commit(
            "merge", attempt, txn, max_retries, st0
        )
        if committed is not None:
            self._maybe_auto_optimize(state, committed)
        return v

    @staticmethod
    def _canon_path_col():
        """input_file_name() in stored-path spelling: percent-decoded
        (path semantics — '+' preserved) and scheme-stripped, the same
        normalization ``_canon_uri`` applies driver-side."""
        return F.regexp_replace(
            F.coalesce(
                F.try_url_decode(
                    F.regexp_replace(F.input_file_name(), r"\+", "%2B")
                ),
                F.input_file_name(),
            ),
            "^file:/+",
            "/",
        )

    def delete_where(
        self,
        condition,
        txn: "dict | None" = None,
        max_retries: int = 5,
        prune: "list[tuple] | None" = None,
    ) -> "int | None":
        """Predicate DELETE (the lakehouse ``DELETE FROM t WHERE ...``):
        rewrite ONLY the files that contain matching rows, keeping their
        non-matching rows verbatim. SQL NULL semantics: rows where the
        predicate is NULL are KEPT (only TRUE deletes). Returns the new
        version, or None when nothing matched (no commit — and a
        provided txn cursor still advances via a data-free commit).
        The rewrite is ONE pass (:meth:`_rewrite_where`): the candidate
        files are read once, the files with a match are found and
        rewritten in the same job, and with ``change_feed=True`` the
        same kernel writes row-level ``delete`` images, so feeds and
        replicas move O(deleted rows). A change-feed DELETE runs two
        Spark jobs: the scan's shuffle-map job and the write. Concurrency:
        same optimistic rule as MERGE.

        Log-stats file pruning is AUTOMATIC for string conditions: the
        simple top-level ``col op literal`` / ``col BETWEEN a AND b``
        conjuncts of the predicate text are derived mechanically
        (:func:`conjuncts_from_condition` — implied by the condition by
        construction) and shrink the scanned file list before any task
        is scheduled (see :meth:`prune_files`); a predicate aligned with
        the clustering (merge key, or any OPTIMIZE ZORDER BY dimension)
        reads only the files it must. A Column condition has no text to
        derive from, so it reads every live file unless ``prune`` is
        given. ``prune`` is an ADVANCED supplement for Column conditions
        or conjuncts the deriver cannot see; any caller-supplied
        conjunct must be IMPLIED by ``condition`` — an unsound one
        silently keeps matching rows."""
        return self._rewrite_where(
            "delete", condition, None, txn, max_retries, prune
        )

    def update_where(
        self,
        condition,
        assignments: dict,
        txn: "dict | None" = None,
        max_retries: int = 5,
        prune: "list[tuple] | None" = None,
    ) -> "int | None":
        """Predicate UPDATE (``UPDATE t SET c = expr WHERE ...``):
        rewrite only the files containing matching rows, applying
        ``assignments`` (column -> Column | SQL string | literal) to the
        matches and keeping everything else verbatim. Assignments must
        target EXISTING columns — UPDATE never evolves the schema.
        NULL-predicate rows are untouched (only TRUE updates). Returns
        the new version, or None when nothing matched. With
        ``change_feed=True`` the commit records ``update_preimage`` /
        ``update_postimage`` row images from the same pass. Right-hand
        sides read the OLD row. Same one-pass rewrite, job count,
        pruning and concurrency shape as :meth:`delete_where`, plus one
        aggregate job when the table has CHECK constraints."""
        if not assignments:
            raise ValueError("update_where needs at least one assignment")
        return self._rewrite_where(
            "update", condition, assignments, txn, max_retries, prune
        )

    def _rewrite_where(
        self, op, condition, assignments, txn, max_retries, prune=None
    ) -> "int | None":
        """Replacement files follow the input files (Delta's file-level
        rewrite), so a Z-ORDER layout keeps its locality."""
        cond = F.expr(condition) if isinstance(condition, str) else condition

        def _as_expr(v):
            if isinstance(v, Column):
                return v
            return F.expr(v) if isinstance(v, str) else F.lit(v)

        if prune is not None:
            _validate_conjuncts(prune)
        if isinstance(condition, str):
            # mechanical derivation from the predicate text: simple
            # top-level AND conjuncts are implied by the condition by
            # construction, so string-condition DML (including the SQL
            # surface) always file-prunes without any caller contract
            derived = conjuncts_from_condition(condition)
            if derived:
                prune = derived + list(prune or [])

        def no_match():
            # nothing to rewrite: a provided txn cursor still advances
            if txn is not None:
                self.record_txn(
                    txn["app_id"], txn["batch_id"], expect=txn.get("expect")
                )

        def attempt(state):
            if state["version"] < 0:
                return None
            live = list(state["adds"].values())
            if prune is not None:
                # log-stats file skipping BEFORE the scan: the caller
                # promised the conjuncts are implied by the condition,
                # so files they rule out cannot hold a match
                live = [a for a in live if _stats_may_match(a, prune)]
            if not live:
                return no_match()
            sch = _schema_of(state["schema"])
            if assignments is not None and sch is not None:
                unknown = sorted(set(assignments) - set(sch.names))
                if unknown:
                    raise ValueError(
                        f"UPDATE assigns unknown columns {unknown} "
                        "(assignments must target existing columns)"
                    )
            reader = (
                self.spark.read.schema(sch)
                if sch is not None
                else self.spark.read
            )
            scan = reader.parquet(*[a["path"] for a in live])
            cols = scan.columns
            match = F.coalesce(cond.cast("boolean"), F.lit(False))
            assign = assignments or {}
            # every right-hand side reads the OLD row (SQL UPDATE: a swap
            # swaps); CASE evaluates it on matched rows only and lands an
            # uncast NULL as the column's recorded type
            image = [
                F.when(match, _as_expr(assign[c])).otherwise(F.col(c)).alias(c)
                if c in assign
                else F.col(c)
                for c in cols
            ]
            # the old values of the assigned columns, for pre-images
            pre = (
                {c: f"__pre{i}" for i, c in enumerate(cols) if c in assign}
                if self.change_feed
                else {}
            )
            rows = scan.select(
                *image,
                *[F.col(c).alias(n) for c, n in pre.items()],
                match.alias("__m"),
                # URI spelling: only the reported paths get _canon_uri
                F.input_file_name().alias("__path"),
            )
            data_schema = rows.select(*cols).schema
            # refuse a type-changing assignment before any file lands
            schema = self._widened_schema_json(state["schema"], data_schema)
            if assignments is not None:
                self._enforce_constraints(
                    rows.filter("__m").select(*cols), state["constraints"],
                    "updated rows", state["schema"],
                )
            # whole input files go to at most files_per_commit partitions,
            # split to balance their recorded rows, routed on the path's
            # commit-dir/file-name tail (spelled alike in the log and in
            # input_file_name()); the window reuses that exchange
            def tail(p):
                return "/".join(p.rsplit("/", 2)[-2:])

            live.sort(key=lambda a: tail(a["path"]))
            n = min(self.files_per_commit, len(live))
            total = sum(int(a.get("rows") or 1) for a in live)
            bounds, acc = [], 0
            for a in live[:-1]:
                acc += int(a.get("rows") or 1)
                if len(bounds) < n - 1 and acc * n >= total * (len(bounds) + 1):
                    bounds.append(tail(a["path"]))
            route = _range_route(F.substring_index("__path", "/", -2), bounds)
            hits = (
                rows.withColumn("__route", route)
                .repartition(len(bounds) + 1, "__route")
                .withColumn("__hit", F.max("__m").over(
                    Window.partitionBy("__route", "__path")
                ))
                .filter("__hit")
                .drop("__hit", "__route")
            )
            cdc_dir = self._new_dir("changes") if self.change_feed else None
            records = _rewrite_write_partitions(
                hits,
                self._new_dir("files"),
                cdc_dir,
                op,
                self.key,
                self._skip_cols(data_schema),
                cols,
                pre,
            )
            read = {_canon_uri(r["path"]) for r in records if r["kind"] == "read"}
            if not read:
                return no_match()
            touched = [a for a in live if a["path"] in read]
            adds = sorted(
                (_add_action(r) for r in records if r["kind"] == "add"),
                key=lambda a: a["path"],
            )
            cdc_files = (
                self._cdc_paths(
                    records, cdc_dir,
                    StructType(
                        list(data_schema.fields)
                        + [StructField("_change_type", StringType())]
                    ),
                )
                if cdc_dir is not None
                else []
            )
            actions = (
                [{"add": a} for a in adds]
                + [{"remove": {"path": a["path"]}} for a in touched]
                + [{"cdc": {"path": p}} for p in cdc_files]
            )
            return actions, schema, [a["path"] for a in touched]

        return self._commit(op, attempt, txn, max_retries)[0]

    def _write_merge_files(
        self,
        stacked: DataFrame,
        data_schema: StructType,
        tomb: "str | None",
        stored_tomb: bool,
        range_sources,
    ) -> "tuple[list[dict], list[str]]":
        """Write a MERGE commit's data files (and, with ``change_feed``,
        its row-level change files) in ONE job: ``stacked`` (stored rows
        ``__src`` 0 ∪ change rows ``__src`` 1) goes through the commit's
        key-range exchange — stats-derived boundaries when
        ``range_sources`` model the key, else the sampled
        ``repartitionByRange``; either way every row of a key lands in
        one partition — and :func:`_merge_write_partitions` resolves
        each key group in its task. ``tomb`` is the tombstone column
        (None: nothing deletes); ``stored_tomb`` keeps a stored column
        of that name in the pre-images. Returns ``(add actions, cdc
        paths)``."""
        key = self.key
        boundaries = self._stats_boundaries_for(
            stacked, self.files_per_commit, range_sources
        )
        clustered = self._cluster_by_key(
            stacked,
            self.files_per_commit,
            F.col(key),
            boundaries,
            order=[
                F.col(key).asc_nulls_first(),
                F.col(self.order_col).desc_nulls_last(),
                F.col("__src").desc(),
            ],
        )
        cdc_fields = list(data_schema.fields) + (
            [stacked.schema[tomb]] if stored_tomb else []
        )
        cdc_dir = self._new_dir("changes") if self.change_feed else None
        records = _merge_write_partitions(
            clustered,
            self._new_dir("files"),
            cdc_dir,
            key,
            tomb,
            self._skip_cols(data_schema),
            data_schema.names,
            [f.name for f in cdc_fields],
        )
        adds = sorted(
            (_add_action(r) for r in records if r["kind"] == "add"),
            key=lambda a: a["path"],
        )
        if cdc_dir is None:
            return adds, []
        cdc_schema = StructType(
            cdc_fields + [StructField("_change_type", StringType())]
        )
        return adds, self._cdc_paths(records, cdc_dir, cdc_schema)

    def _with_zvalue(
        self, df: DataFrame, cols: "list[str]", bits: int = 6
    ) -> DataFrame:
        """Attach the Z-ORDER clustering key as ``__zorder_z``: per-column
        bucket ids (``2**bits`` buckets each) with their bits interleaved
        — the multi-dimensional locality key OPTIMIZE clusters files by,
        so parquet footer min/max stats stay tight on EVERY listed
        dimension at once (a single-dimension range clustering leaves
        every other dimension's per-file range full-width, so filters on
        those dimensions prune nothing).

        Bucketing per column: numeric/date/timestamp columns are rank-
        bucketed against ``approxQuantile`` boundaries collected in ONE
        cheap driver-side pass (boundaries ride into the expression as
        codegen literals — no join, no window); other types hash-bucket
        via xxhash64, which clusters equal values for equality pruning
        but carries no range locality. NULL sorts to bucket 0. Bucket ids
        are STAGED as ``__zorder_b{i}`` columns so the interleave terms
        reference named columns — inlining the bucket chain into all
        ``bits × dims`` terms blows past janino's method-size limit and
        forces interpreted evaluation. Everything is deterministic and
        shuffle-free; ``__zorder_*`` columns are dropped by the writer
        after clustering."""
        n_buckets = 1 << bits
        numeric_like = (
            "byte", "short", "int", "bigint", "long", "float", "double",
            "decimal", "date", "timestamp", "timestamp_ntz",
        )
        names = []
        for i, c in enumerate(cols):
            dt = dict(df.dtypes)[c]
            base = dt.split("(")[0]
            if base in numeric_like:
                as_num = F.col(c).cast("double")
                probs = [j / n_buckets for j in range(1, n_buckets)]
                bounds = df.select(as_num.alias("__q")).stat.approxQuantile(
                    "__q", probs, 0.01
                )
                # strictly increasing boundaries only: constant/skewed
                # columns collapse duplicates (fewer effective buckets)
                uniq = []
                for b in bounds:
                    if b is not None and (not uniq or b > uniq[-1]):
                        uniq.append(b)
                bucket = F.lit(0)
                for b in uniq:
                    bucket = bucket + (as_num > F.lit(b)).cast("int")
                bucket = F.coalesce(bucket, F.lit(0))
            else:
                bucket = F.coalesce(
                    F.pmod(F.xxhash64(F.col(c)), F.lit(n_buckets)),
                    F.lit(0),
                ).cast("int")
            name = f"__zorder_b{i}"
            df = df.withColumn(name, bucket.cast("long"))
            names.append(name)
        z = F.lit(0).cast("long")
        for bit in range(bits):
            for i, name in enumerate(names):
                pos = bit * len(names) + i
                z = z + F.shiftleft(
                    F.shiftright(F.col(name), bit) % 2, pos
                )
        return df.withColumn("__zorder_z", z)

    def optimize(
        self,
        min_files: int = 2,
        max_retries: int = 5,
        cluster_by: "list[str] | None" = None,
        target_file_bytes: "int | None" = None,
        min_file_bytes: "int | None" = None,
        max_rewrite_bytes: "int | None" = None,
    ) -> "int | None":
        """Compaction: rewrite the CURRENT live file set into
        ``files_per_commit`` key-range-clustered files as one
        transactional commit (op ``optimize``: adds the compacted files,
        removes every prior live file; row content is untouched). This is
        the maintenance op continuous streaming MERGE makes necessary —
        every micro-batch adds files, so fragmentation grows without
        bound and with it both scan task count and stats-pruning
        selectivity (many overlapping [min,max] ranges). Returns the new
        version, or None when the live file count is already at or below
        ``max(min_files, files_per_commit)`` (compacting again would just
        rewrite the same files). A competing commit that removed a
        source file raises ``ConcurrentModification`` (see
        :meth:`_commit`).

        ``cluster_by=[c1, c2, ...]`` is OPTIMIZE ZORDER BY: the rewrite
        clusters files on the interleaved-bit z-value of the listed
        columns (see :meth:`_zvalue_expr`) instead of the merge key's
        range, so parquet min/max footer stats stay tight on every
        listed dimension and a filter on ANY of them skips whole
        files/row-groups at scan time — the layout a 100 TB fact needs
        when queries slice on more than one column. Trade-off, recorded
        deliberately: per-file ranges of the MERGE key widen (the add
        stats still record them truthfully), so z-order favors read
        pruning over merge rewrite pruning; re-cluster requests run even
        when the file count is already compact (the point is layout, not
        file count).

        ``target_file_bytes`` switches on SIZE-TARGETED BIN-PACKED
        compaction (Delta OPTIMIZE semantics — the mode a 100 TB table
        needs): only live files SMALLER than ``min_file_bytes`` (default
        ``target_file_bytes // 2``) are selected, smallest first, up to
        the optional ``max_rewrite_bytes`` budget, and rewritten into
        ``ceil(selected_bytes / target_file_bytes)`` outputs. Files
        already at or above the floor are NEVER touched — the rewrite is
        O(small-file debt), not O(table) — and fewer than two candidates
        is a no-op. Adds from before byte tracking (no recorded size)
        count as candidates with size 0 so legacy fragmentation still
        compacts. ``cluster_by`` composes: the selected bin is laid out
        on the z-value, untouched files keep their layout."""

        def attempt(state):
            live = list(state["adds"].values())
            if not live:
                return None
            props = state["properties"]
            zorder = cluster_by
            if zorder is None and props.get("zorder.columns"):
                # the table's recorded layout choice sticks across plain
                # maintenance runs (see set_property)
                zorder = [
                    c.strip()
                    for c in props["zorder.columns"].split(",")
                    if c.strip()
                ]
            tgt = target_file_bytes
            if (
                tgt is None
                and min_file_bytes is None
                and props.get("optimize.target_file_bytes")
            ):
                # recorded size policy: a plain optimize()/OPTIMIZE
                # statement on a table that declared its target file
                # size runs the bounded bin-packed pass, same as the
                # zorder.columns layout property above
                tgt = int(props["optimize.target_file_bytes"])
            if tgt is not None or min_file_bytes is not None:
                tgt = tgt or 128 * 1024 * 1024
                floor = min_file_bytes if min_file_bytes is not None else tgt // 2
                rewrite = sorted(
                    (a for a in live if int(a.get("bytes") or 0) < floor),
                    key=lambda a: int(a.get("bytes") or 0),
                )
                if max_rewrite_bytes is not None:
                    picked, budget = [], 0
                    for a in rewrite:
                        b = int(a.get("bytes") or 0)
                        if picked and budget + b > max_rewrite_bytes:
                            break
                        picked.append(a)
                        budget += b
                    rewrite = picked
                if len(rewrite) < 2:
                    return None
                total = sum(int(a.get("bytes") or 0) for a in rewrite)
                n_out = max(1, -(-total // tgt))
            else:
                if zorder is None and len(live) <= max(
                    min_files, self.files_per_commit
                ):
                    return None
                rewrite = live
                n_out = None
            # recorded schema pins the compaction read — same evolution
            # hazard as merge: a mixed narrow/wide live set read via footer
            # inference would rewrite (and record) the narrow schema
            sch = _schema_of(state["schema"])
            reader = self.spark.read.schema(sch) if sch is not None else self.spark.read
            df = reader.parquet(*[a["path"] for a in rewrite])
            # the recorded schema must never include __zorder_* scaffolding
            commit_schema = df.schema.json()
            cluster_expr = None
            if zorder is not None:
                df = self._with_zvalue(df, zorder)
                cluster_expr = F.col("__zorder_z")
            adds = self._write_data_files(
                df, cluster_expr=cluster_expr, n_files=n_out
            )
            actions = [{"add": a} for a in adds] + [
                {"remove": {"path": a["path"]}} for a in rewrite
            ]
            return actions, commit_schema, [a["path"] for a in rewrite]

        return self._commit("optimize", attempt, max_retries=max_retries)[0]

    def restore(
        self,
        version: "int | None" = None,
        timestamp=None,
        max_retries: int = 5,
    ) -> "int | None":
        """RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF (Delta parity):
        publish ONE commit that makes the current snapshot equal the
        snapshot at the target version — the undo for a bad DML/merge.
        Data files are immutable, so the commit is pure metadata at the
        file level: re-add the target's files that are no longer live,
        remove the live files the target did not have. The RECORDED
        SCHEMA reverts too (restore is the one op exempt from the
        widen-never-narrow rule — reverting an evolution is its point).
        Returns the new version, or None when the target IS the current
        snapshot. Raises for a future version or one below the vacuum
        watermark (its files may be reclaimed). History stays intact:
        this is a new commit on top, so the bad span remains
        time-travelable and the restore itself is auditable (op
        ``restore``).

        With ``change_feed=True`` the commit also records row-level
        change images so replicas/feeds follow the revert at O(changed
        rows): a keyed diff of the two snapshots (full outer join on the
        merge key over the UNION of both schemas' columns, missing
        columns read as the NULL they become) emits ``insert`` for keys
        only in the target, ``delete`` for keys only in the current
        snapshot, and ``update_preimage``/``update_postimage`` for keys
        whose row differs — the same image vocabulary MERGE writes, so
        every consumer (typed feed, signed deltas, TableReplicator,
        replicate_stream) works unchanged. The diff describes the
        LATEST-ROW-PER-KEY view of each snapshot (exact for unique-key
        tables — the invariant merge-maintained tables keep; a dup-key
        blind-append table replicates as its keyed view, the typed
        feed's documented contract). Without change_feed the restore
        commit is file-level only, and the typed feed refuses the span
        (same fidelity rule as a cdc-less merge). Known race, shared
        with every lakehouse: a vacuum running CONCURRENTLY with a
        restore to a near-watermark version can reclaim a file the
        restore re-references — schedule maintenance ops apart."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        if version is None:
            raise ValueError("restore needs a version or timestamp")

        def attempt(state):
            if version > state["version"]:
                raise ValueError(
                    f"cannot restore to version {version} "
                    f"(latest {state['version']})"
                )
            wm = self._vacuum_watermark()
            if version < wm:
                raise ValueError(
                    f"version {version} was vacuumed (earliest retained: "
                    f"{wm})"
                )
            if version == state["version"]:
                return None
            tgt_state = self._fold_log(version)
            cur_adds = state["adds"]
            tgt_adds = tgt_state["adds"]
            if set(cur_adds) == set(tgt_adds):
                return None  # intervening commits were data-free
            actions = [
                {"add": a} for p, a in tgt_adds.items() if p not in cur_adds
            ] + [
                {"remove": {"path": p}}
                for p in cur_adds
                if p not in tgt_adds
            ]
            images = (
                self._restore_changes(state, tgt_state)
                if self.change_feed
                else None
            )
            if images is not None:
                cdc_dir = self._new_dir("changes")
                records = _fused_write_partitions(
                    images.coalesce(self.files_per_commit), cdc_dir, "cdc"
                )
                actions += [
                    {"cdc": {"path": p}}
                    for p in self._cdc_paths(records, cdc_dir, images.schema)
                ]
            # no read set: a lost race re-diffs against the new head
            return actions, tgt_state["schema"], []

        return self._commit("restore", attempt, max_retries=max_retries)[0]

    def _restore_changes(
        self, cur_state: dict, tgt_state: dict
    ) -> "DataFrame | None":
        """Row-level images for a restore commit, tagged
        ``_change_type``: keyed diff of the current snapshot against the
        target snapshot (see :meth:`restore`). One full-outer join on the
        merge key; row equality is NULL-safe over the union of both
        schemas' columns. None when neither snapshot has a schema."""

        def _snap(state):
            if state["adds"] or state["schema"]:
                return self._scan(state)
            return None

        cur = _snap(cur_state)
        tgt = _snap(tgt_state)
        if cur is None and tgt is None:
            return None
        if cur is None:
            return tgt.withColumn("_change_type", F.lit("insert"))
        if tgt is None:
            return cur.withColumn("_change_type", F.lit("delete"))
        # union of columns, in a stable order; missing columns read NULL
        # of the OTHER side's recorded type
        all_cols = list(
            dict.fromkeys(list(tgt.columns) + list(cur.columns))
        )
        types = {f.name: f.dataType for f in tgt.schema.fields}
        for f in cur.schema.fields:
            types.setdefault(f.name, f.dataType)

        def _aligned(df):
            out = df
            for c in all_cols:
                if c not in df.columns:
                    out = out.withColumn(c, F.lit(None).cast(types[c]))
            return out.select(*all_cols)

        def _latest(df):
            w = Window.partitionBy(self.key).orderBy(F.desc(self.order_col))
            return (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

        t = _latest(_aligned(tgt))
        c = _latest(_aligned(cur))
        # presence must be decided by something that cannot be NULL in a
        # present row — the key can (NULL keys are keys here). Wrap each
        # side's whole row as a struct: a full-outer miss leaves the
        # struct itself NULL, a present row never does
        joined = (
            t.select(F.struct(*[F.col(col) for col in all_cols]).alias("tr"))
            .join(
                c.select(
                    F.struct(*[F.col(col) for col in all_cols]).alias("cr")
                ),
                F.col(f"tr.{self.key}").eqNullSafe(F.col(f"cr.{self.key}")),
                "full_outer",
            )
            # the four image frames below each filter this join — pin it
            # once instead of re-running two snapshot scans per frame
            .localCheckpoint(eager=True)
        )
        differs = ~F.col("tr").eqNullSafe(F.col("cr"))
        inserts = (
            joined.filter(F.col("cr").isNull() & F.col("tr").isNotNull())
            .select("tr.*")
            .withColumn("_change_type", F.lit("insert"))
        )
        deletes = (
            joined.filter(F.col("tr").isNull() & F.col("cr").isNotNull())
            .select("cr.*")
            .withColumn("_change_type", F.lit("delete"))
        )
        both = joined.filter(
            F.col("tr").isNotNull() & F.col("cr").isNotNull() & differs
        )
        pre = both.select("cr.*").withColumn(
            "_change_type", F.lit("update_preimage")
        )
        post = both.select("tr.*").withColumn(
            "_change_type", F.lit("update_postimage")
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    # -- read ops -----------------------------------------------------------

    def _vacuum_watermark(self) -> int:
        """Lowest version whose snapshot is still fully on disk (0 if no
        vacuum ever ran). Unreadable marker degrades to 0 — reads below a
        lost watermark fail at scan time instead of cleanly, never
        silently succeed with wrong data."""
        marker = f"{self.log_dir}/_vacuum_watermark"
        fs, jpath = self._fs(marker)
        try:
            if not fs.exists(jpath):
                return 0
            return int(json.loads(self._read_text(marker))["min_version"])
        except Exception:
            return 0

    def read(
        self, version: "int | None" = None, timestamp=None
    ) -> DataFrame:
        """Snapshot read (time travel with ``version=k`` or AS OF
        ``timestamp`` — epoch seconds, datetime, or ISO string, resolved
        to the greatest version published at or before it). The file list
        is pinned here — later commits can't tear this DataFrame. A valid
        but empty snapshot (freshly created table, or every row deleted)
        returns an empty DataFrame with the recorded schema; only a table
        with no commits at all raises."""
        listing = self._log_listing()
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self._version_at(timestamp, listing[0])
        state = self._fold_log(version, listing)
        latest = state["versions"][-1] if state["versions"] else -1
        if latest < 0:
            raise ValueError("table has no commits")
        if state["version"] > latest:
            raise ValueError(
                f"version {state['version']} does not exist (latest {latest})"
            )
        wm = self._vacuum_watermark()
        if state["version"] < wm:
            raise ValueError(
                f"version {state['version']} was vacuumed (earliest "
                f"retained: {wm})"
            )
        return self._scan(state)

    def _scan(self, state: dict) -> DataFrame:
        """The snapshot a fold describes, as a DataFrame over its live
        files. The schema recorded AT the fold's version pins the read:
        after schema evolution, files written pre-widening simply surface
        NULL for the newer columns (parquet reader fills missing
        columns), and time travel to an old version reads the OLD schema
        — per-version fidelity without mergeSchema footers. A snapshot
        with no live files reads as an empty DataFrame of that schema."""
        adds = list(state["adds"].values())
        schema = _schema_of(state["schema"])
        if not adds:
            if schema is None:
                raise ValueError(
                    f"no schema recorded at version {state['version']}"
                )
            return self.spark.createDataFrame([], schema)
        reader = (
            self.spark.read.schema(schema)
            if schema is not None
            else self.spark.read
        )
        return reader.parquet(*[a["path"] for a in adds])

    def file_count(self, version: "int | None" = None) -> int:
        return len(self._fold_log(version)["adds"])

    def prune_files(
        self, conjuncts: "list[tuple]", version: "int | None" = None
    ) -> "list[dict]":
        """Log-stats data skipping (Delta's file-pruning rule): return
        the live add actions whose recorded per-column min/max stats
        CANNOT rule out a match for ``conjuncts`` — a list of
        ``(column, op, value)`` triples AND-ed together, ops in
        ``= < <= > >= between`` (``between`` takes a ``(lo, hi)``
        value). Driver-side over log metadata only, zero Spark jobs.

        Soundness rules: a file lacking stats for a column (legacy
        commit, > STATS_COLUMNS, long-string extremes, unsupported
        type) is KEPT; an all-NULL column (min/max None with nulls ==
        rows) is pruned for any comparison conjunct, since NULL
        satisfies none of these ops; string comparison is Python's
        code-point order, which equals Spark's binary UTF-8 order.

        Why this exists at 100 TB: Spark's parquet reader skips row
        groups via footers, but only AFTER scheduling a task per file
        and reading its footer — at 100k+ files the listing/scheduling
        overhead dominates selective queries. Pruning from the commit
        log's stats (one driver-side pass over metadata the log already
        carries) shrinks the scan's file list itself, which is the
        entire point of OPTIMIZE ZORDER BY: after clustering, every
        listed dimension's per-file ranges are tight, so this prune
        drops most files for predicates on ANY of them."""
        return list(self._pruned(self._fold_log(version), conjuncts).values())

    @staticmethod
    def _pruned(state: dict, conjuncts: "list[tuple]") -> "dict[str, dict]":
        """The live adds of the fold ``state`` that :meth:`prune_files`
        keeps, keyed like ``state["adds"]``."""
        _validate_conjuncts(conjuncts)
        return {
            p: a
            for p, a in state["adds"].items()
            if _stats_may_match(a, conjuncts)
        }

    def read_pruned(
        self, conjuncts: "list[tuple]", version: "int | None" = None
    ) -> DataFrame:
        """Snapshot read with log-stats file pruning: scan only the
        files :meth:`prune_files` keeps, then apply ``conjuncts`` as a
        real row filter (the stats prune is file-granular; surviving
        files still hold non-matching rows). Result rows are EXACTLY
        ``read(version).filter(<conjuncts>)`` — the prune is a pure
        optimization, asserted by tests."""
        state = self._fold_log(version)
        df = self._scan({**state, "adds": self._pruned(state, conjuncts)})
        for col, op, val in conjuncts:
            c = F.col(col)
            if op == "between":
                df = df.filter(c.between(val[0], val[1]))
            else:
                df = df.filter(
                    {"=": c == val, "<": c < val, "<=": c <= val,
                     ">": c > val, ">=": c >= val}[op]
                )
        return df

    def read_changes(self, since_version: int = -1) -> DataFrame:
        """The commit log as an incremental feed — the table-side half of
        the reference's stream/table duality (a ksqlDB TABLE is a
        changelog you can re-consume; here the transaction log IS that
        changelog). Returns every row ADDED by commits after
        ``since_version``, tagged with ``_commit_version`` and
        ``_commit_op``, so a downstream consumer can advance a cursor
        with exactly-once batch semantics (process commits ``(v, v']``,
        persist ``v'``, repeat).

        Semantics per op: for ``append`` commits these are exactly the
        inserted rows; for ``merge`` commits with row-level change files
        (``change_feed=True`` at merge time) they are exactly the
        changed rows (insert + update post-images — unchanged rows of
        rewritten files never appear); for legacy add-file-level merges
        and ``optimize`` they are the POST-IMAGE of the rewritten key
        range (the whole-file trade this feed's cdc path removes).
        ``create`` commits contribute nothing. Maintenance ops that only
        reorganize bytes (``optimize``) can be skipped by the consumer
        via ``_commit_op``. Raises below the vacuum watermark: reclaimed
        versions cannot be replayed.

        Plan size is O(schema epochs), not O(commits in span): contiguous
        same-schema commits are read by ONE multi-path scan and each
        row's ``_commit_version``/``_commit_op`` is recovered from a
        broadcast path->version map joined on ``input_file_name()`` —
        a full-history replay over thousands of commits stays a
        handful of scan nodes."""
        return self._changes_frame(
            self._feed_walk(since_version, skip_optimize=False, kinds=("cdc", "add"))
        )

    def _feed_walk(
        self,
        since_version: int,
        skip_optimize: bool,
        require_row_level: bool = False,
        kinds: "tuple[str, ...]" = ("cdc", "add", "remove"),
        listing: "tuple[list[int], list[int]] | None" = None,
    ) -> SimpleNamespace:
        """The ONE log walk behind every change feed: one fold at the
        cursor ``since_version`` (from ``listing`` when the caller already
        listed), then one pass over the commits after it up to the head
        of that fold's listing — the skip rules, the incremental
        schema-epoch tracking, and the cdc-vs-add-vs-remove grouping.
        Returns ``since``, ``state`` (the fold: its ``versions`` are the
        listing the span was cut from, so a caller needing the span's
        versions or head takes them from here), ``groups`` (``{(kind,
        schema_json): [(path, version, op), ...]}`` with kind in
        ``kinds``; empty when the span carries no rows to replay) and
        ``schema`` (the head's schema JSON). ``require_row_level`` raises
        on a merge commit without change files (read_row_changes'
        fidelity contract). Each commit body is read exactly once."""
        state = self._fold_log(since_version, listing)
        schema_json = state["schema"]
        groups: "dict[tuple, list]" = {}
        for v in state["versions"]:
            if v <= state["version"]:
                continue
            c = self._read_commit(v)
            if c.get("schema") is not None:
                schema_json = c["schema"]
            if skip_optimize and c["op"] == "optimize":
                continue
            cdc = [a["cdc"]["path"] for a in c["actions"] if "cdc" in a]
            adds = [a["add"]["path"] for a in c["actions"] if "add" in a]
            removed = [
                a["remove"]["path"] for a in c["actions"] if "remove" in a
            ]
            if cdc:
                # a commit carrying row-level change files replays THEM,
                # never its whole-file post-image adds/removes
                groups.setdefault(("cdc", schema_json), []).extend(
                    (p, v, c["op"]) for p in cdc
                )
                continue
            if (
                require_row_level
                and c["op"] in ("merge", "delete", "update", "restore")
                and (adds or removed)
            ):
                raise ValueError(
                    f"commit {v} is a {c['op']} without row-level change "
                    "files (change_feed was off); its row-level effects "
                    "cannot be reconstructed — replay it via "
                    "read_changes/read_deltas instead"
                )
            for kind, paths in (("add", adds), ("remove", removed)):
                if paths and kind in kinds:
                    groups.setdefault((kind, schema_json), []).extend(
                        (p, v, c["op"]) for p in paths
                    )
        return SimpleNamespace(
            since=since_version, state=state, groups=groups, schema=schema_json
        )

    def _span_watermark(self, walk: SimpleNamespace) -> int:
        """The vacuum watermark a feed bounds ``walk``'s cursor by; 0
        (never vacuumed) for a caught-up walk, whose empty span needs no
        reclaimed version."""
        if walk.since < max(walk.state["versions"], default=-1):
            return self._vacuum_watermark()
        return 0

    def _changes_frame(self, walk: SimpleNamespace) -> DataFrame:
        """:meth:`read_changes` over a :meth:`_feed_walk`."""
        wm = self._span_watermark(walk)
        if walk.since + 1 < wm:
            raise ValueError(
                f"changes since {walk.since} include vacuumed versions "
                f"(earliest retained: {wm})"
            )
        if not walk.groups:
            return self._empty_changes(walk.schema)

        # post-image feed: removed files never replay
        def _post_images(kind, scan):
            if kind == "cdc":
                return scan.filter(
                    F.col("_change_type").isin("insert", "update_postimage")
                ).drop("_change_type")
            return scan

        return self._assemble_feed(
            walk.groups, with_op=True, transform=_post_images
        )

    def _empty_changes(self, schema_json: "str | None") -> DataFrame:
        """:meth:`read_changes`' typed empty frame: the head's recorded
        schema plus the feed's ``_commit_version``/``_commit_op``."""
        if schema_json is None:
            raise ValueError("table has no commits")
        empty = self.spark.createDataFrame(
            [], StructType.fromJson(json.loads(schema_json))
        )
        return empty.withColumn(
            "_commit_version", F.lit(None).cast("long")
        ).withColumn("_commit_op", F.lit(None).cast("string"))

    def _assemble_feed(
        self,
        groups: "dict[tuple, list]",
        with_op: bool,
        transform,
    ) -> DataFrame:
        """Shared parts assembly for the three feeds: one grouped scan
        per (kind, schema epoch), a per-kind row transform, and the
        allowMissingColumns union that widens across schema-evolution
        boundaries (pre-evolution commits read NULL for newer columns,
        the same rule merge itself applies)."""
        parts = [
            transform(kind, self._grouped_scan(kind, sj, entries, with_op))
            for (kind, sj), entries in groups.items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def _grouped_scan(
        self,
        kind: str,
        schema_json: "str | None",
        entries: "list[tuple]",
        with_op: bool,
    ) -> DataFrame:
        """ONE multi-path scan over every file of a (action kind, schema
        epoch) group, with each row's commit version (and op) recovered
        by joining canonicalized ``input_file_name()`` against a
        broadcast path->version map — the construction that keeps feed
        plans O(schema epochs) instead of O(commits). ``kind='cdc'``
        widens the recorded schema with the ``_change_type`` tag the
        change files carry."""
        sch = _schema_of(schema_json)
        if kind == "cdc" and sch is not None:
            sch = StructType(
                list(sch.fields) + [StructField("_change_type", StringType())]
            )
        reader = self.spark.read.schema(sch) if sch is not None else self.spark.read
        map_schema = "__path string, _commit_version long" + (
            ", _commit_op string" if with_op else ""
        )
        pmap = self.spark.createDataFrame(
            [
                (p, int(v), str(op))[: 3 if with_op else 2]
                for (p, v, op) in entries
            ],
            map_schema,
        )
        scan = reader.parquet(*[p for (p, _, _) in entries]).withColumn(
            # input_file_name() in stored-path spelling (_canon_path_col:
            # percent-decoded with '+' preserved, scheme stripped) — a
            # URI-encoded spelling mismatch would otherwise silently drop
            # every row of the affected files from the feed
            "__path",
            self._canon_path_col(),
        )
        # LEFT join + fail-fast, never inner: an inner join would make any
        # residual spelling mismatch SILENTLY DROP those files' rows from
        # the feed — replica corruption with no error. A NULL
        # _commit_version now raises with the offending path instead.
        joined = scan.join(F.broadcast(pmap), "__path", "left")
        guarded = F.when(
            F.col("_commit_version").isNotNull(), F.col("_commit_version")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "feed scan file missing from the commit path map "
                        "(path spelling mismatch would corrupt the feed): "
                    ),
                    F.col("__path"),
                )
            )
        )
        return joined.withColumn("_commit_version", guarded).drop("__path")

    def read_row_changes(self, since_version: int = -1) -> DataFrame:
        """The TYPED row-level change feed (Delta CDF's consumer shape):
        every row carries ``_change_type`` ∈ {insert, update_preimage,
        update_postimage, delete} plus ``_commit_version`` — appends
        surface their rows as ``insert``, merges surface the pre/post
        images their change files recorded, ``optimize``/``create``
        contribute nothing. The feed replicates the table: merge the
        {insert, update_postimage, delete} subset into a target keyed
        the same way with ``order_col="_commit_version"`` and
        ``delete_col=(_change_type = 'delete')`` and the target
        converges to the source's LATEST-ROW-PER-KEY state — identical
        to the full table whenever keys are unique, which is the
        invariant merge-maintained tables keep. A source that stacks
        duplicate keys via blind appends replicates as its newest row
        per key (same-commit duplicates: arbitrary winner, the standard
        CDC-apply caveat) — the merge-shaped replica cannot represent
        duplicate keys. The ACID-to-ACID replication primitive, proven
        in tests/test_acid.py.

        STRICT about fidelity: raises if the span contains a merge
        commit without change files (``change_feed`` was off) — such a
        commit's row-level deletes are unrecoverable, and silently
        degrading to whole-file post-images would corrupt a replica.
        Same O(schema epochs) plan bound as ``read_changes``."""
        return self._row_changes_frame(
            self._feed_walk(
                since_version,
                skip_optimize=True,
                require_row_level=True,
                kinds=("cdc", "add"),
            )
        )

    def _row_changes_frame(self, walk: SimpleNamespace) -> DataFrame:
        """:meth:`read_row_changes` over a :meth:`_feed_walk`."""
        wm = self._span_watermark(walk)
        if walk.since + 1 < wm:
            raise ValueError(
                f"row changes since {walk.since} include vacuumed versions "
                f"(earliest retained: {wm})"
            )
        if not walk.groups:
            empty = self._empty_changes(walk.schema).drop("_commit_op")
            return empty.withColumn("_change_type", F.lit(None).cast("string"))

        def _typed(kind, scan):
            if kind != "cdc":
                return scan.withColumn("_change_type", F.lit("insert"))
            return scan

        out = self._assemble_feed(walk.groups, with_op=False, transform=_typed)
        # stable column order regardless of which kind led the union:
        # data columns first, then the two feed metadata columns
        meta = ["_commit_version", "_change_type"]
        return out.select(*[c for c in out.columns if c not in meta], *meta)

    def stream_changes(
        self, since_version: int = -1, commits_per_batch: int = 1
    ) -> DataFrame:
        """The change feed as a Structured Streaming source: one
        micro-batch per source commit by default (available-now replay,
        commit order preserved). This closes the reference's
        stream/table dual read (T11 — the same name readable as current
        state AND as a changelog stream) for the ACID table: ``read()``
        is the table side, this is the stream side, and both are views
        of the same transaction log. Downstream stateful operators
        (windowed aggs, the sketch automata, ``foreachBatch`` sinks)
        consume it like any other stream; pair with
        ``read_deltas``-style cursors for exactly-once hand-off.

        ``commits_per_batch`` groups ADJACENT commit versions into one
        micro-batch — the catch-up path for a consumer resuming far
        behind the head: per-micro-batch fixed costs (state-store
        checkpoint, planning) amortize over the span instead of
        replaying one commit at a time. Safe for any order-invariant
        fold and for consumers that rank on ``_commit_version`` inside
        the batch; keep the default when per-commit emission granularity
        is itself the contract. Grouping is DETERMINISTIC: the slice
        index is derived per row as
        ``(_commit_version - min_version) // commits_per_batch`` (r14
        ADVICE — ``repartitionByRange``'s sampled boundaries only
        promise non-splitting, not the exact ceil(n/k) grouping the
        contract states; skewed commit sizes could realize 1+3 instead
        of 2+2), so a commit never splits across batches, order is
        preserved, and the batching is the same on every run."""
        from data_pipeline_kafka_ek_spark.streaming import runtime as _rt

        walk = self._feed_walk(
            since_version, skip_optimize=False, kinds=("cdc", "add")
        )
        versions = [v for v in walk.state["versions"] if v > since_version]
        return _rt.commit_span_stream(
            self.spark, self._changes_frame(walk), versions, commits_per_batch
        )

    def read_deltas(self, since_version: int = -1) -> DataFrame:
        """Signed row deltas for commits after ``since_version``: rows of
        ADDED files carry ``_weight`` +1, rows of REMOVED files -1, so
        ``sum(_weight * x)`` over the feed is EXACTLY the change any
        distributive aggregate (count, sum, and through them mean)
        experienced — the retraction-carrying feed incremental
        materialized-view maintenance needs (``read_changes`` alone is
        post-image only and cannot retract a rewritten row's old value).
        ``optimize`` commits are skipped outright: they add and remove
        identical row sets, so their net delta is zero by construction
        and replaying them would only cost I/O.

        A merge that wrote row-level change files (``change_feed=True``)
        replays THEM: +1 for insert/update_postimage rows, -1 for
        update_preimage/delete rows — exactly the row-level delta, so a
        merge touching 1% of a file's rows moves ~1% of the rows through
        a downstream fold instead of retracting and re-adding the whole
        rewritten file. Legacy merges without change files keep the
        add/remove whole-file form. Same O(schema epochs) plan bound as
        ``read_changes``.

        Stricter vacuum bound than ``read_changes``: a commit's REMOVED
        files were live only BEFORE it, so replaying deltas needs
        ``since_version >= watermark`` (the removed files of commit
        ``wm`` itself may already be reclaimed)."""
        return self._deltas_frame(self._feed_walk(since_version, skip_optimize=True))

    def _deltas_frame(self, walk: SimpleNamespace) -> DataFrame:
        """:meth:`read_deltas` over a :meth:`_feed_walk`."""
        wm = self._span_watermark(walk)
        # commit c's REMOVED files were live only at c-1; after a vacuum
        # to watermark wm, the first commit whose pre-image is guaranteed
        # on disk is wm+1 — so the earliest safe cursor is wm (wm == 0
        # means never vacuumed: every image exists and cursor -1 is fine)
        if wm > 0 and walk.since < wm:
            raise ValueError(
                f"deltas since {walk.since} need pre-{wm} file images that "
                f"vacuum may have reclaimed (earliest safe cursor: {wm})"
            )
        if not walk.groups:
            empty = self._empty_changes(walk.schema).drop("_commit_op")
            return empty.withColumn("_weight", F.lit(None).cast("int"))

        def _signed(kind, scan):
            if kind == "cdc":
                return scan.withColumn(
                    "_weight",
                    F.when(
                        F.col("_change_type").isin(
                            "insert", "update_postimage"
                        ),
                        F.lit(1),
                    )
                    .otherwise(F.lit(-1))
                    .cast("int"),
                ).drop("_change_type")
            return scan.withColumn(
                "_weight", F.lit(1 if kind == "add" else -1).cast("int")
            )

        return self._assemble_feed(walk.groups, with_op=False, transform=_signed)

    # -- maintenance --------------------------------------------------------

    def unreferenced_files(self) -> "list[str]":
        """Data files no retained snapshot references (vacuum candidates).
        Conservative: a file referenced by ANY commit in the log is kept,
        so time travel over the whole retained log keeps working. Exact
        canonical-path set membership — no suffix matching."""
        referenced = {
            _canon(a["add"]["path"])
            for v in self._list_versions()
            for a in self._read_commit(v)["actions"]
            if "add" in a
        }
        return self._unprotected_part_files("files", referenced)

    def _unprotected_part_files(
        self, kind: str, protected: "set[str]", cutoff_ms: "float | None" = None
    ) -> "list[str]":
        """The one sweep over a table's part files: canonical paths of
        the ``part-*`` files under ``files/`` or ``changes/`` (``kind``)
        that are not in ``protected`` and, given a ``cutoff_ms``, were
        last modified at or before it."""
        out = []
        for f in self._list_files(kind, recursive=True):
            p = _canon_uri(f.path)
            if (
                f.base_name.startswith("part-")
                and p not in protected
                and (cutoff_ms is None or f.mtime_ns / 1e6 <= cutoff_ms)
            ):
                out.append(p)
        return out

    def _list_files(self, sub: str, recursive: bool) -> list:
        """The files under ``<table>/<sub>`` as pyarrow ``FileInfo`` s
        (path in the spelling the writer kernels record, mtime) from ONE
        filesystem listing through the ``pyarrow.fs`` filesystem the
        kernels write with: walking a Hadoop iterator from Python costs
        py4j round trips per entry. A missing directory lists empty."""
        from pyarrow import fs as pafs

        fsys, root = pafs.FileSystem.from_uri(f"{self.path}/{sub}")
        sel = pafs.FileSelector(root, allow_not_found=True, recursive=recursive)
        return [
            f for f in fsys.get_file_info(sel) if f.type == pafs.FileType.File
        ]

    def orphaned_tmp_files(self, older_than_s: float = 3600.0) -> "list[str]":
        """Unpublished temp bodies a crashed writer left in the log dir.
        Age-gated: an in-flight writer's temp (written, not yet linked)
        must not be swept from under it."""
        import time as _time

        cutoff_ms = (_time.time() - older_than_s) * 1000.0
        return sorted(
            f"{self.log_dir}/{f.base_name}"
            for f in self._list_files("_txn_log", recursive=False)
            # .tmp- = crashed commit publish; .wm- = crashed vacuum
            # watermark replace
            if f.base_name.startswith((".tmp-", ".wm-"))
            and f.mtime_ns / 1e6 <= cutoff_ms
        )

    def vacuum(
        self,
        retain_versions: int = 10,
        retain_tmp_s: float = 3600.0,
        min_age_s: float = 3600.0,
        dry_run: bool = False,
    ) -> "dict[str, int]":
        """Delete data files referenced ONLY by snapshots older than the
        last ``retain_versions`` versions, plus aged orphan temp files.
        Advances the watermark so time travel below it raises cleanly.
        Returns counts. The protected set is the exact union of the
        retained snapshots' canonical add paths — a file shared between an
        old and a retained snapshot survives.

        ``min_age_s`` is the concurrent-writer guard (Delta's retention
        rule): a writer's data files land on disk BEFORE its commit
        publishes, so a freshly written file is unreferenced-but-live —
        deleting it would corrupt the commit that is about to reference
        it (or a commit that published after the protected set was
        computed). Only files older than ``min_age_s`` are eligible;
        size it above the longest plausible write-to-publish window.

        ``dry_run=True`` (Delta's VACUUM ... DRY RUN) computes the same
        eligible sets and returns the same counts but deletes NOTHING
        and leaves the watermark untouched — the safe preview to run
        before handing retention a real table."""
        import time as _time

        listing = self._log_listing()
        if not listing[0]:
            return {
                "data_files_deleted": 0,
                "tmp_files_deleted": 0,
                "change_files_deleted": 0,
            }
        latest = listing[0][-1]
        wm = max(0, latest - retain_versions + 1)
        # monotonic clamp: a later vacuum with a LARGER retain_versions
        # computes a smaller wm; writing it verbatim would move the marker
        # backwards below versions whose files are already reclaimed, so
        # those reads would pass the watermark check and die mid-scan with
        # FileNotFound — the exact failure the marker exists to prevent.
        # Deletion still uses the newly computed protected set (keeping
        # MORE files than the marker promises is safe).
        wm_marker = max(self._vacuum_watermark(), wm)
        # ONE fold just below the window, carried through it once: the
        # retained snapshots' union is the snapshot at wm plus every file
        # a later retained commit adds (a file live at v > wm was live at
        # wm or added in (wm, v]). The same bodies give the change-file
        # sweep its protected set: row-level cdc files are replayable
        # only for commits at/above the watermark (read_changes raises
        # below it), so cdc files referenced only by sub-watermark commits
        # — plus attempt directories orphaned by lost merge races, which
        # no commit references at all — are reclaimed
        state = self._fold_log(wm - 1, listing)
        protected: set[str] = set()
        cdc_protected: set[str] = set()
        for v in range(wm, latest + 1):
            commit = self._read_commit(v)
            if v == wm:
                _fold_step(state, v, commit)
                protected.update(map(_canon, state["adds"]))
            for a in commit["actions"]:
                if "add" in a:
                    protected.add(_canon(a["add"]["path"]))
                elif "cdc" in a and v >= wm_marker:
                    cdc_protected.add(_canon(a["cdc"]["path"]))
        # watermark FIRST, deletion second: a vacuum that dies in between
        # leaves files missing only BELOW the advanced watermark, so reads
        # still fail with the clean below-watermark ValueError instead of
        # mid-scan FileNotFound (the ordering the watermark exists for).
        # Marker write is temp + atomic replace (single writer per vacuum
        # is the deployment contract; a torn marker degrades to 0, see
        # _vacuum_watermark)
        marker = f"{self.log_dir}/_vacuum_watermark"
        body = json.dumps({"min_version": wm_marker})
        mfs, mpath = self._fs(marker)
        if dry_run:
            pass  # preview only: no watermark advance, no deletion
        elif mfs.getUri().getScheme() == "file":
            import os as _os

            tmp = f"{self.log_dir}/.wm-{uuid.uuid4().hex}"
            local_tmp = _canon(tmp)
            with open(local_tmp, "w", encoding="utf-8") as fh:
                fh.write(body)
            _os.replace(local_tmp, _canon(marker))
        else:
            out = mfs.create(mpath, True)
            try:
                out.write(bytearray(body.encode("utf-8")))
            finally:
                out.close()
        # data and change files pass the same in-flight age guard
        age_cutoff_ms = (_time.time() - min_age_s) * 1000.0
        doomed = {
            "files": self._unprotected_part_files(
                "files", protected, age_cutoff_ms
            ),
            "changes": self._unprotected_part_files(
                "changes", cdc_protected, age_cutoff_ms
            ),
            "tmp": self.orphaned_tmp_files(older_than_s=retain_tmp_s),
        }
        if not dry_run:
            for p in (p for paths in doomed.values() for p in paths):
                dfs, jp = self._fs(p)
                dfs.delete(jp, False)
        return {
            "data_files_deleted": len(doomed["files"]),
            "tmp_files_deleted": len(doomed["tmp"]),
            "change_files_deleted": len(doomed["changes"]),
        }

    def foreach_batch_writer(self, app_id: str, delete_col: "str | None" = None):
        """``foreachBatch`` target: exactly-once idempotent MERGE of each
        micro-batch (replayed batch ids are skipped via the txn action)."""

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            self.merge(
                batch_df,
                delete_col=delete_col,
                txn={"app_id": app_id, "batch_id": int(batch_id)},
            )

        return apply
