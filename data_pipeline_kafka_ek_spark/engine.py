"""Engine facade: the reference's control/metadata surface (SURVEY.md §2.12)
and its CREATE-STREAM-AS-SELECT vocabulary (§3.5), on Spark.

The reference's interactive surface is the ksqlDB CLI/REST statement set:
``CREATE STREAM/TABLE ... AS SELECT`` registers a named, continuously
maintained derivation; ``SHOW TOPICS / TABLES / CONNECTORS / QUERIES``
enumerate the live topology (reference: README.md:71,146,181,297);
``DESCRIBE [EXTENDED]`` prints schema and runtime stats (README.md:101,131);
``PRINT 'topic'`` tails raw rows (README.md:73,185). Spark twin: a thin
registry over temp views + ``spark.streams`` — every registered object is
simultaneously a DataFrame (Python API) and a SQL-addressable view
(``spark.sql`` — Catalyst is the single planner either way), which is the
engine's version of ksqlDB's "every derived object is also a topic".

Scale note: the registry is names-only driver state (no data lives here);
registering a derivation is lazy — nothing executes until a sink/action —
so the facade adds zero distributed work.
"""

from __future__ import annotations

import json

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class Engine:
    """Registry of named streams, tables, and connectors over one session."""

    spark: SparkSession
    _streams: dict[str, DataFrame] = field(default_factory=dict)
    _tables: dict[str, DataFrame] = field(default_factory=dict)
    _connectors: dict[str, dict[str, Any]] = field(default_factory=dict)
    # SET 'k'='v' session options (reference: ksqldb-statements.sql:48)
    _options: dict[str, str] = field(default_factory=dict)
    # PARTITION BY re-key targets per registered name (T6)
    _keys: dict[str, str] = field(default_factory=dict)
    # event-time column per source (WITH ('timestamp'='col')) — what the
    # WINDOW TUMBLING/HOPPING/SESSION rewrite resolves against
    _event_time: dict[str, str] = field(default_factory=dict)

    # -- CREATE ... AS SELECT vocabulary (reference: ksqldb-statements.sql) --

    def create_stream(self, name: str, df: DataFrame) -> DataFrame:
        """CSAS twin: register an append-semantics derivation under a name
        (also as a temp view, so ``spark.sql`` sees it)."""
        self._streams[name] = df
        df.createOrReplaceTempView(name)
        return df

    def create_table(self, name: str, df: DataFrame) -> DataFrame:
        """CTAS twin: register a latest-per-key/changelog-semantics
        derivation (the caller supplies the latest-per-key plan — see
        operators.relational.latest_per_key)."""
        self._tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    def create_connector(
        self, name: str, kind: str, config: dict[str, Any], fn: Callable | None = None
    ) -> None:
        """CREATE SOURCE/SINK CONNECTOR twin (reference:
        ksqldb-statements.sql:19-38,70-85): record a named source/sink
        adapter binding. ``fn`` is the adapter callable (e.g. a
        foreachBatch writer from streaming.sinks)."""
        if kind not in ("source", "sink"):
            raise ValueError(f"connector kind must be source|sink, got {kind!r}")
        self._connectors[name] = {"kind": kind, "config": dict(config), "fn": fn}

    def sql(self, statement: str) -> DataFrame:
        """REST/CLI SQL entry point twin (reference: rest_example.sh:6-16) —
        one planner for both APIs. Three statement families route before
        Spark sees the text:

        * the reference's DEPLOYMENT DDL (``CREATE STREAM/TABLE ... AS
          SELECT`` with EMIT CHANGES / PARTITION BY / WINDOW
          TUMBLING|HOPPING|SESSION, source declarations with a column
          list + WITH(...), ``CREATE SOURCE/SINK CONNECTOR``, ``SET``)
          — so a transliterated ksqldb-statements.sql replays end to
          end through :meth:`sql_script`. ``CREATE TABLE ... AS
          SELECT`` routes here only when a ksqlDB marker is present
          (EMIT CHANGES, WITH props, PARTITION BY, a ksql WINDOW
          clause, or a FROM over an engine-registered name); vanilla
          Spark catalog CTAS passes through to ``spark.sql`` untouched;
        * ACID DML/DDL Spark SQL cannot execute against plain views —
          DELETE FROM / UPDATE ... SET / OPTIMIZE [ZORDER BY] / VACUUM /
          RESTORE / DESCRIBE HISTORY — routed to the named ACID table's
          transactional ops (DML returns a one-row ``(version)`` frame,
          NULL version = no-op);
        * everything else passes to ``spark.sql`` after time-travel
          rewriting and a trailing ``EMIT CHANGES`` strip (a push query
          runs as its batch twin)."""
        routed = self._route_ddl(statement)
        if routed is not None:
            return routed
        routed = self._route_acid_dml(statement)
        if routed is not None:
            return routed
        return self.spark.sql(
            self._rewrite_time_travel(self._strip_emit_changes(statement))
        )

    def _rewrite_time_travel(self, statement: str) -> str:
        """SELECT-side time travel through the SQL string surface
        (Delta's syntax): every ``FROM/JOIN <acid_table> VERSION AS OF
        k`` (or ``TIMESTAMP AS OF 'ts'``) is rewritten to a temp view
        pinned at that snapshot before the statement reaches
        ``spark.sql``. Only names registered as ACID tables rewrite —
        anything else (including Spark catalog tables that support the
        syntax natively) passes through untouched. The pinned view's
        file list is resolved HERE (snapshot isolation: later commits
        cannot tear the query), and the view name encodes table+version
        so repeated travel to the same snapshot reuses one view.
        Quote-aware: a match starting inside a string literal or quoted
        identifier (the same three quoting forms ``_split_top`` skips)
        is left verbatim — ``WHERE note = 'FROM t VERSION AS OF 0'``
        compares against the literal, it never pins a view."""
        import re as _re

        acid = getattr(self, "_acid", {})
        if not acid:
            return statement

        spans = self._quoted_spans(statement)

        def _pin(m: "_re.Match") -> str:
            if any(lo <= m.start() < hi for lo, hi in spans):
                return m.group(0)
            name = m.group(2)
            if name not in acid:
                return m.group(0)
            if m.group(3) is not None:
                v = int(m.group(3))
            else:
                v = acid[name].version_at(m.group(4))
            view = f"__asof_{name}_v{v}"
            acid[name].read(version=v).createOrReplaceTempView(view)
            return f"{m.group(1)}{view}"

        return _re.sub(
            r"(\b(?:FROM|JOIN)\s+)(\w+)\s+(?:VERSION\s+AS\s+OF\s+(\d+)"
            r"|TIMESTAMP\s+AS\s+OF\s+'([^']+)')",
            _pin,
            statement,
            flags=_re.I,
        )

    def sql_script(self, script: str) -> "list[DataFrame]":
        """Execute a multi-statement SQL script — the reference's
        statements-file flow (ksqldb-statements.sql is exactly this: a
        ``;``-separated script with ``--`` comments, POSTed as one
        body). Statements split on TOP-LEVEL semicolons (quotes and
        parens respected, same scanner as the DML router), ``--`` line
        comments are stripped quote-aware (a ``--`` inside a string
        literal survives), each statement runs through :meth:`sql` in
        order, and the per-statement result frames come back as a list.
        A failing statement raises immediately — statements before it
        are already applied (scripts are not transactions, the same
        contract as ksqlDB's statement runner)."""
        out_chars: "list[str]" = []
        i, n = 0, len(script)
        while i < n:
            ch = script[i]
            if ch in "'\"`":
                j = i + 1
                while j < n:
                    if script[j] == ch and not (
                        j + 1 < n and script[j + 1] == ch
                    ):
                        break
                    j += 2 if script[j] == ch else 1
                out_chars.append(script[i : j + 1])
                i = j + 1
                continue
            if ch == "-" and script[i : i + 2] == "--":
                while i < n and script[i] != "\n":
                    i += 1
                continue
            out_chars.append(ch)
            i += 1
        results = []
        for stmt in self._split_top("".join(out_chars), ";"):
            if stmt.strip():
                results.append(self.sql(stmt.strip()))
        return results

    # -- ACID DML statement routing ------------------------------------------

    @staticmethod
    def _quoted_spans(s: str) -> "list[tuple[int, int]]":
        """``[start, end)`` spans of every quoted region — the shared
        scanner (see functions/sqltext.py; one tokenizer for every
        statement-surface consumer, so a quoting edge is fixed once)."""
        from data_pipeline_kafka_ek_spark.functions.sqltext import (
            quoted_spans,
        )

        return quoted_spans(s)

    @staticmethod
    def _split_top(s: str, want: str) -> "list[str]":
        """Split ``s`` on top-level occurrences of ``want`` (a keyword
        like WHERE, matched case-insensitively as a whole word, or the
        literal ','), ignoring anything inside quotes or parentheses —
        the shared scanner (functions/sqltext.py)."""
        from data_pipeline_kafka_ek_spark.functions.sqltext import split_top

        return split_top(s, want)

    # -- deployment DDL routing (the reference's statements-file grammar) ----

    @staticmethod
    def _strip_emit_changes(statement: str) -> str:
        """Drop a trailing ``EMIT CHANGES`` — a ksqlDB push query's
        continuous marker; the batch twin of the same plan is what a
        one-shot ``sql()`` call means here (quote-aware: a literal
        ending in the words survives)."""
        import re as _re

        m = _re.search(r"\s+EMIT\s+CHANGES\s*;?\s*$", statement, _re.I)
        if m and not any(
            lo <= m.start() < hi
            for lo, hi in Engine._quoted_spans(statement)
        ):
            return statement[: m.start()]
        return statement

    def _parse_with_props(self, body: str) -> "dict[str, str]":
        """``WITH (k='v', 'k2'='v2', n=3)`` property list -> dict with
        lower-cased keys (ksqlDB property names are case-insensitive).
        Values are quoted strings (with the ``''`` escape) or bare
        numeric literals."""
        import re as _re

        props: dict[str, str] = {}
        for part in self._split_top(body, ","):
            if not part.strip():
                continue
            m = _re.match(
                r"\s*(?:'((?:[^']|'')*)'|([A-Za-z_][\w.]*))\s*=\s*"
                r"(?:'((?:[^']|'')*)'|(-?\d+(?:\.\d+)?))\s*$",
                part,
                _re.S,
            )
            if not m:
                raise ValueError(
                    f"cannot parse WITH property: {part!r} "
                    "(expected key = 'value')"
                )
            key = (m.group(1) or m.group(2)).replace("''", "'").lower()
            val = (
                m.group(3).replace("''", "'")
                if m.group(3) is not None
                else m.group(4)
            )
            props[key] = val
        return props

    def _strip_partition_by(self, body: str) -> "tuple[str, str | None]":
        """Peel a trailing ``PARTITION BY col`` off a CSAS body
        (reference: ksqldb-statements.sql:68 — re-key the derivation;
        T6). Returns (body-without-clause, column-or-None)."""
        import re as _re

        m = _re.search(r"\s+PARTITION\s+BY\s+(\w+)\s*$", body, _re.I)
        if m and not any(
            lo <= m.start() < hi for lo, hi in self._quoted_spans(body)
        ):
            return body[: m.start()], m.group(1)
        return body, None

    def _rewrite_ksql_windows(self, body: str, props: "dict[str, str]") -> str:
        """Rewrite the reference's windowed-aggregation clause into
        Spark's windowing functions (T2/T3/T4 as SQL TEXT):

        * ``WINDOW TUMBLING (SIZE n UNIT)``   -> ``window(ts, 'n unit')``
        * ``WINDOW HOPPING (SIZE n U, ADVANCE BY m U)``
                                              -> ``window(ts, .., ..)``
        * ``WINDOW SESSION (n UNIT)``         -> ``session_window(ts, ..)``

        The window expression is prepended to the statement's GROUP BY,
        ``WINDOWSTART``/``WINDOWEND`` pseudo-columns rewrite to the
        struct's start/end, and both are always exposed on the result
        (ksqlDB materializes them implicitly on every windowed table).
        The event-time column comes from the statement's
        ``WITH ('timestamp'='col')`` or the FROM source's declared one.
        Catalyst plans the rewritten text exactly like the Python-API
        twins (plans/catalog.py a3/t3/t4), so the same single-shuffle
        partial+final aggregation shape applies at scale."""
        import re as _re

        from data_pipeline_kafka_ek_spark.functions.sqltext import (
            find_top_level,
        )

        wm = next(
            iter(
                find_top_level(
                    body,
                    r"\bWINDOW\s+(TUMBLING|HOPPING|SESSION)\s*\(([^)]*)\)\s*",
                    _re.I,
                )
            ),
            None,
        )
        if wm is None:
            return body

        ts = props.get("timestamp")
        if ts is None:
            fm = _re.search(r"\bFROM\s+(\w+)", body, _re.I)
            if fm is not None:
                ts = self._event_time.get(fm.group(1))
        if ts is None:
            raise ValueError(
                "windowed statement needs an event-time column: add "
                "WITH ('timestamp'='col') or declare it on the source"
            )

        kind = wm.group(1).upper()
        spec = wm.group(2)
        if kind == "TUMBLING":
            sm = _re.match(r"\s*SIZE\s+(\d+)\s+(\w+)\s*$", spec, _re.I)
            if not sm:
                raise ValueError(f"cannot parse TUMBLING spec: {spec!r}")
            wexpr = f"window({ts}, '{sm.group(1)} {sm.group(2).lower()}')"
            struct = "window"
        elif kind == "HOPPING":
            sm = _re.match(
                r"\s*SIZE\s+(\d+)\s+(\w+)\s*,\s*ADVANCE\s+BY\s+(\d+)\s+(\w+)\s*$",
                spec,
                _re.I,
            )
            if not sm:
                raise ValueError(f"cannot parse HOPPING spec: {spec!r}")
            wexpr = (
                f"window({ts}, '{sm.group(1)} {sm.group(2).lower()}', "
                f"'{sm.group(3)} {sm.group(4).lower()}')"
            )
            struct = "window"
        else:
            sm = _re.match(r"\s*(\d+)\s+(\w+)\s*$", spec, _re.I)
            if not sm:
                raise ValueError(f"cannot parse SESSION spec: {spec!r}")
            wexpr = f"session_window({ts}, '{sm.group(1)} {sm.group(2).lower()}')"
            struct = "session_window"

        body = body[: wm.start()] + " " + body[wm.end():]
        # the OUTER query's GROUP BY only: a subquery's GROUP BY sits at
        # paren depth > 0 and must never receive the window expression
        gm = next(
            iter(find_top_level(body, r"\bGROUP\s+BY\s+", _re.I)), None
        )
        if gm is None:
            raise ValueError(
                "a windowed statement must aggregate: GROUP BY is missing"
            )
        body = body[: gm.end()] + f"{wexpr}, " + body[gm.end():]

        def _sub_outside(pattern, repl, text):
            sp = self._quoted_spans(text)
            return _re.sub(
                pattern,
                lambda mm: repl
                if not any(lo <= mm.start() < hi for lo, hi in sp)
                else mm.group(0),
                text,
                flags=_re.I,
            )

        body = _sub_outside(r"\bWINDOWSTART\b", f"{struct}.start", body)
        body = _sub_outside(r"\bWINDOWEND\b", f"{struct}.end", body)
        # every windowed derivation exposes the bounds (ksqlDB's implicit
        # WINDOWSTART/WINDOWEND pseudo-columns) — APPENDED to the select
        # list, never prepended: GROUP BY/ORDER BY ordinals resolve by
        # select-list position, so a prepended column would silently
        # shift every ordinal in the statement
        fm = next(iter(find_top_level(body, r"\bFROM\b", _re.I)), None)
        if fm is None:
            return body
        return (
            body[: fm.start()]
            + f", {struct}.start AS windowstart, "
            + f"{struct}.end AS windowend "
            + body[fm.start():]
        )

    def _is_ksql_ctas(
        self,
        statement: str,
        body: str,
        props: dict,
        part_col: "str | None",
    ) -> bool:
        """Whether a ``CREATE TABLE ... AS SELECT`` is the ksqlDB-style
        CTAS (registry/temp-view route) rather than vanilla Spark
        catalog CTAS. Markers, any one sufficient: ``EMIT CHANGES`` in
        the original text, ``WITH (...)`` properties, a top-level
        ``PARTITION BY`` re-key, a ksql ``WINDOW
        TUMBLING/HOPPING/SESSION`` clause, or the body referencing a
        name this engine registered (stream, table, or ACID table) —
        a derivation over engine-managed state must stay in the
        engine's namespace."""
        import re as _re

        from .functions.sqltext import find_top_level

        if props or part_col is not None:
            return True
        if find_top_level(statement, r"\bEMIT\s+CHANGES\b", _re.I):
            return True
        if find_top_level(
            body, r"\bWINDOW\s+(TUMBLING|HOPPING|SESSION)\b", _re.I
        ):
            return True
        registered = (
            *self._streams,
            *self._tables,
            *getattr(self, "_acid", {}),
        )
        # the docstring contract is "a FROM over an engine-registered
        # name": only FROM/JOIN source position counts — a registered
        # name reused as a column or alias must not divert a vanilla
        # catalog CTAS. Quote-aware (a literal spelling the name is
        # data); any paren depth is fine (the source may sit in a
        # subquery).
        spans = self._quoted_spans(body)
        for n in registered:
            # the source token may be quoted: backticks (Spark/ksql) or
            # double quotes (ANSI). The match anchors at FROM/JOIN —
            # outside any identifier-quote span — so the span check
            # still rejects only the data-literal case ('... FROM n
            # ...' inside a single-quoted string).
            esc = _re.escape(n)
            pat = rf"(?i)\b(?:FROM|JOIN)\s+(?:{esc}\b|`{esc}`|\"{esc}\")"
            for m in _re.finditer(pat, body):
                if not any(lo <= m.start() < hi for lo, hi in spans):
                    return True
        return False

    def _normalize_quoted_sources(self, body: str) -> str:
        """Spark's default dialect parses double quotes as string
        literals, so an ANSI/ksql-style double-quoted source identifier
        in FROM/JOIN position would fail to parse. Rewrite
        ``FROM "name"`` to ``FROM `name``` for engine-registered names
        only — anything else keeps its spelling (and its error). One
        pass over the original string, so quoted-span offsets stay
        valid."""
        import re as _re

        registered = (
            *self._streams,
            *self._tables,
            *getattr(self, "_acid", {}),
        )
        if not registered:
            return body
        spans = self._quoted_spans(body)
        names = "|".join(_re.escape(n) for n in registered)

        def _sub(m: "_re.Match") -> str:
            if any(lo <= m.start() < hi for lo, hi in spans):
                return m.group(0)
            return f"{m.group(1)}`{m.group(2)}`"

        return _re.sub(
            rf"(?i)(\b(?:FROM|JOIN)\s+)\"({names})\"", _sub, body
        )

    def _route_ddl(self, statement: str) -> "DataFrame | None":
        """The reference's deployable statement grammar
        (ksqldb-statements.sql), routed before ACID DML:

        * ``SET 'k' = 'v'`` — session option registry (line 48)
        * ``CREATE SOURCE/SINK CONNECTOR n WITH (...)`` (19-38, 70-85)
        * ``CREATE STREAM/TABLE n (cols) WITH (...)`` — source
          declaration over a path-backed dataset (42-43, 45); a
          PRIMARY KEY column plus a declared event-time gives the
          TABLE latest-per-key changelog semantics
        * ``CREATE STREAM/TABLE n [WITH (...)] AS SELECT ...`` — CSAS /
          CTAS (13-17, 50-60, 63-68, 88-93) with EMIT CHANGES,
          PARTITION BY re-key, and WINDOW TUMBLING/HOPPING/SESSION

        Everything registered lands in the same stream/table registry
        (and temp views) the Python API uses — one planner, one
        namespace."""
        import re as _re

        s = self._strip_emit_changes(statement.strip().rstrip(";").strip())

        m = _re.match(
            r"SET\s+'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'$", s, _re.I
        )
        if m:
            key = m.group(1).replace("''", "'")
            val = m.group(2).replace("''", "'")
            self._options[key] = val
            return self.spark.createDataFrame(
                [(key, val)], "key string, value string"
            )

        m = _re.match(
            r"CREATE\s+(SOURCE|SINK)\s+CONNECTOR\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+WITH\s*\((.+)\)$",
            s,
            _re.I | _re.S,
        )
        if m:
            kind = m.group(1).lower()
            self.create_connector(
                m.group(2), kind, self._parse_with_props(m.group(3))
            )
            return self.spark.createDataFrame(
                [(m.group(2), kind)], "name string, kind string"
            )

        m = _re.match(
            r"CREATE\s+(STREAM|TABLE)\s+(\w+)\s*"
            r"(?:WITH\s*\((.*?)\)\s*)?AS\s+(SELECT\s.+)$",
            s,
            _re.I | _re.S,
        )
        if m:
            kind, name = m.group(1).upper(), m.group(2)
            props = self._parse_with_props(m.group(3)) if m.group(3) else {}
            body, part_col = self._strip_partition_by(m.group(4))
            if kind == "TABLE" and not self._is_ksql_ctas(
                statement, body, props, part_col
            ):
                # plain CREATE TABLE ... AS SELECT with no ksqlDB marker
                # is valid Spark catalog CTAS — pass it through untouched
                # instead of silently diverting it into the registry/
                # temp-view route (CREATE STREAM is never vanilla SQL and
                # always routes here)
                return None
            body = self._normalize_quoted_sources(body)
            body = self._rewrite_ksql_windows(body, props)
            df = self.spark.sql(self._rewrite_time_travel(body))
            if part_col is not None:
                # PARTITION BY re-keys the derivation: co-locate rows by
                # the new key (the Kafka-key twin) before registration
                df = df.repartition(F.col(part_col))
                self._keys[name] = part_col
            if props.get("timestamp"):
                self._event_time[name] = props["timestamp"]
            else:
                # ksqlDB inherits the event-time column through
                # derivations: if the FROM source declared one and the
                # projection kept it, the derivation carries it too —
                # so a chained windowed CTAS needs no repeated WITH
                fm = _re.search(r"\bFROM\s+`?(\w+)", body, _re.I)
                inherited = (
                    self._event_time.get(fm.group(1)) if fm else None
                )
                if inherited and inherited.lower() in {
                    c.lower() for c in df.columns
                }:
                    self._event_time[name] = inherited
            return (
                self.create_stream(name, df)
                if kind == "STREAM"
                else self.create_table(name, df)
            )

        m = _re.match(
            r"CREATE\s+(STREAM|TABLE)\s+(\w+)\s*\((.+)\)\s*"
            r"WITH\s*\((.+)\)$",
            s,
            _re.I | _re.S,
        )
        if m:
            return self._create_source(
                m.group(1).upper(), m.group(2), m.group(3), m.group(4)
            )

        # the reference CLI's inspection statements (README.md:71,146,
        # 181,297; PRINT README.md:73,185). SHOW TABLES and DESCRIBE stay
        # with Spark SQL — they are native there and list the same temp
        # views this registry creates.
        if _re.match(r"SHOW\s+STREAMS$", s, _re.I):
            return self.spark.createDataFrame(
                [(n,) for n in self.show_streams()] or [], "name string"
            )
        if _re.match(r"SHOW\s+CONNECTORS$", s, _re.I):
            return self.spark.createDataFrame(
                [
                    (c["name"], c["kind"])
                    for c in self.show_connectors()
                ]
                or [],
                "name string, kind string",
            )
        if _re.match(r"SHOW\s+QUERIES$", s, _re.I):
            return self.spark.createDataFrame(
                [
                    (q["id"], q["name"], q["isActive"])
                    for q in self.show_queries()
                ]
                or [],
                "id string, name string, isActive boolean",
            )
        m = _re.match(
            r"PRINT\s+'((?:[^']|'')*)'(?:\s+FROM\s+BEGINNING)?"
            r"(?:\s+LIMIT\s+(\d+))?$",
            s,
            _re.I,
        )
        if m:
            name = m.group(1).replace("''", "'")
            n = int(m.group(2)) if m.group(2) else 5
            df = self._streams.get(name) or self._tables.get(name)
            if df is None:
                raise KeyError(f"unknown stream/table {name!r}")
            return df.limit(n)
        return None

    # ksqlDB column types that differ from Spark DDL spellings
    _TYPE_MAP = {"VARCHAR": "STRING", "INT": "INT", "INTEGER": "INT"}

    def _create_source(
        self, kind: str, name: str, coldefs: str, with_body: str
    ) -> DataFrame:
        """Source STREAM/TABLE declaration: declared columns + WITH
        properties. A ``path`` property (engine-native; format defaults
        to parquet) binds the declaration to a dataset — the sandbox
        twin of the reference's KAFKA_TOPIC binding, which is recorded
        verbatim as connector config when present. The declared column
        list is the CONTRACT: the read is projected and cast to exactly
        those columns. A TABLE with a PRIMARY KEY column and a declared
        event-time collapses to latest-per-key (changelog semantics,
        reference: ksqldb-statements.sql:42-43); without a path the
        declaration registers an empty typed relation plus the binding
        (honest: no broker in this environment)."""
        import re as _re

        from data_pipeline_kafka_ek_spark.functions.sqltext import split_top

        props = self._parse_with_props(with_body)
        cols: "list[tuple[str, str]]" = []
        key_col = None
        # angle_nesting: generics like MAP<STRING, INT> carry commas —
        # never split inside them (safe here: '<' is a type bracket in a
        # column list, not a comparison)
        for part in split_top(coldefs, ",", angle_nesting=True):
            cm = _re.match(
                r"\s*(`(?:[^`]|``)+`|\w+)\s+(\w+(?:\s*\([^)]*\))?"
                r"(?:\s*<[^>]*>)?)\s*(PRIMARY\s+KEY|KEY)?\s*$",
                part,
                _re.I | _re.S,
            )
            if not cm:
                raise ValueError(f"cannot parse column definition: {part!r}")
            col = cm.group(1)
            if col.startswith("`"):
                col = col[1:-1].replace("``", "`")
            typ = cm.group(2).strip()
            typ = self._TYPE_MAP.get(typ.upper(), typ)
            cols.append((col, typ))
            if cm.group(3):
                key_col = col
        ts_col = props.get("timestamp")
        path = props.get("path")
        if path is not None:
            fmt = props.get("format", props.get("value_format", "parquet"))
            raw = self.spark.read.format(fmt.lower()).load(path)
            df = raw.select(
                *[F.col(c).cast(t).alias(c) for c, t in cols]
            )
            if kind == "TABLE" and key_col is not None and ts_col:
                from data_pipeline_kafka_ek_spark.operators.relational import (
                    latest_per_key,
                )

                df = latest_per_key(df, key_col, [F.col(ts_col).desc()])
        else:
            # no dataset binding in this environment: typed empty
            # relation + the recorded connector-style binding
            ddl = ", ".join(f"{c} {t}" for c, t in cols)
            df = self.spark.createDataFrame([], ddl)
            self._connectors.setdefault(
                name, {"kind": "source", "config": props, "fn": None}
            )
        if ts_col:
            self._event_time[name] = ts_col
        if key_col is not None:
            self._keys[name] = key_col
        return (
            self.create_stream(name, df)
            if kind == "STREAM"
            else self.create_table(name, df)
        )

    def _route_acid_dml(self, statement: str) -> "DataFrame | None":
        import re as _re

        acid = getattr(self, "_acid", {})
        s = statement.strip().rstrip(";").strip()

        def _version_frame(v):
            return self.spark.createDataFrame(
                [(None if v is None else int(v),)], "version long"
            )

        m = _re.match(
            r"DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+))?$", s, _re.I | _re.S
        )
        if m and m.group(1) in acid:
            # no WHERE deletes every row (standard SQL), same rule as the
            # UPDATE path's defaulted condition
            return _version_frame(
                self.delete_from_acid_table(m.group(1), m.group(2) or "true")
            )
        m = _re.match(
            r"CREATE\s+ACID\s+TABLE\s+(\w+)\s+"
            r"LOCATION\s+'([^']+)'\s+KEY\s+(\w+)\s+ORDER\s+BY\s+(\w+)"
            r"(\s+WITH\s+CHANGE\s+FEED)?\s+AS\s+(SELECT\s.+)$",
            s,
            _re.I | _re.S,
        )
        if m:
            # CTAS into the lakehouse: schema from the SELECT, initial
            # commit = the query result (completes the statements-file
            # bootstrap story — one statement creates AND loads)
            df = self.spark.sql(
                self._rewrite_time_travel(
                    self._strip_emit_changes(m.group(6))
                )
            )
            out_cols = {c.lower() for c in df.columns}
            for col, what in ((m.group(3), "KEY"), (m.group(4), "ORDER BY")):
                if col.lower() not in out_cols:
                    raise ValueError(
                        f"CREATE ACID TABLE {m.group(1)} AS SELECT: {what} "
                        f"column {col!r} is not in the query's output "
                        f"columns {df.columns}"
                    )
            t = self.create_acid_table(
                m.group(1),
                m.group(2),
                key=m.group(3),
                order_col=m.group(4),
                schema=df.schema,
                change_feed=m.group(5) is not None,
            )
            v = t.append(df)
            self.create_table(m.group(1), t.read())
            return _version_frame(v)
        m = _re.match(
            r"CREATE\s+ACID\s+TABLE\s+(\w+)\s*\((.+?)\)\s*"
            r"LOCATION\s+'([^']+)'\s+KEY\s+(\w+)\s+ORDER\s+BY\s+(\w+)"
            r"(\s+WITH\s+CHANGE\s+FEED)?$",
            s,
            _re.I | _re.S,
        )
        if m:
            from pyspark.sql.types import StructType as _StructType

            # the column list is Spark DDL verbatim ("k LONG, v STRING")
            schema = _StructType.fromDDL(m.group(2))
            names = {f.name for f in schema.fields}
            for col, what in ((m.group(4), "KEY"), (m.group(5), "ORDER BY")):
                if col not in names:
                    raise ValueError(
                        f"CREATE ACID TABLE {m.group(1)}: {what} column "
                        f"{col!r} is not in the declared schema"
                    )
            t = self.create_acid_table(
                m.group(1),
                m.group(3),
                key=m.group(4),
                order_col=m.group(5),
                schema=schema,
                change_feed=m.group(6) is not None,
            )
            return _version_frame(t.latest_version())
        m = _re.match(
            r"INSERT\s+INTO\s+(\w+)\s*(\(([^)]*)\))?\s*"
            r"(VALUES\s*\(.+|SELECT\s+.+)$",
            s,
            _re.I | _re.S,
        )
        if m and m.group(1) in acid:
            t = acid[m.group(1)]
            # the body composes with time travel like any SELECT:
            # INSERT INTO t SELECT ... FROM t VERSION AS OF k pins the
            # snapshot view before Spark plans the read
            body = self._rewrite_time_travel(m.group(4))
            batch = self.spark.sql(
                body
                if body[:6].upper() == "SELECT"
                else f"SELECT * FROM ( {body} )"
            )
            # positional alignment, SQL INSERT semantics: an explicit
            # column list names the targets (unnamed table columns land
            # NULL via append's narrow-batch rule); without one the
            # values map to the recorded schema in order. Each value is
            # cast to the recorded column type so VALUES literals (int
            # vs long, NULL) never trip the append type-conflict guard.
            from data_pipeline_kafka_ek_spark.sources.acid import _schema_of

            sch = _schema_of(t._fold_log()["schema"])
            if m.group(3):
                names = [
                    c.strip().strip("`").replace("``", "`")
                    for c in self._split_top(m.group(3), ",")
                ]
                if sch is not None:
                    # standard SQL: an explicit column list must name
                    # recorded columns — a typo must error, never widen
                    # the table's schema forever (same rule as UPDATE's
                    # unknown-assignment check). Case-INSENSITIVE, like
                    # Spark's own resolution; names normalize to the
                    # recorded casing so the batch aligns exactly.
                    recorded = {f.name.lower(): f.name for f in sch.fields}
                    unknown = sorted(
                        n for n in names if n.lower() not in recorded
                    )
                    if unknown:
                        raise ValueError(
                            f"INSERT INTO {m.group(1)} names unknown "
                            f"column(s) {unknown}; the recorded schema "
                            "has "
                            + ", ".join(f.name for f in sch.fields)
                        )
                    names = [recorded[n.lower()] for n in names]
            elif sch is not None:
                names = [f.name for f in sch.fields]
            else:
                raise ValueError(
                    f"INSERT INTO {m.group(1)} needs a column list: the "
                    "table has no recorded schema to align values to"
                )
            if len(names) != len(batch.columns):
                raise ValueError(
                    f"INSERT INTO {m.group(1)}: {len(batch.columns)} "
                    f"value column(s) for {len(names)} target column(s)"
                )
            typed = {f.name: f.dataType for f in sch.fields} if sch else {}
            batch = batch.select(
                *[
                    (
                        F.col(c).cast(typed[n]) if n in typed else F.col(c)
                    ).alias(n)
                    for c, n in zip(batch.columns, names)
                ]
            )
            v = t.append(batch)
            self.create_table(m.group(1), t.read())
            return _version_frame(v)
        m = _re.match(r"UPDATE\s+(\w+)\s+SET\s+(.+)$", s, _re.I | _re.S)
        if m and m.group(1) in acid:
            set_where = self._split_top(m.group(2), "WHERE")
            cond = set_where[1].strip() if len(set_where) > 1 else "true"
            assignments = {}
            for part in self._split_top(set_where[0], ","):
                am = _re.match(
                    r"\s*(`(?:[^`]|``)+`|[A-Za-z_]\w*)\s*=\s*(.+?)\s*$",
                    part,
                    _re.S,
                )
                if not am:
                    raise ValueError(f"cannot parse SET assignment: {part!r}")
                col = am.group(1)
                if col.startswith("`"):
                    # unquote: update_where keys are real column names
                    col = col[1:-1].replace("``", "`")
                assignments[col] = am.group(2)
            return _version_frame(
                self.update_acid_table(m.group(1), cond, assignments)
            )
        m = _re.match(
            r"MERGE\s+INTO\s+(\w+)(?:\s+AS\s+(\w+))?\s+USING\s+(.+)$",
            s,
            _re.I | _re.S,
        )
        if m and m.group(1) in acid:
            return self._route_merge_into(
                m.group(1), m.group(2), m.group(3)
            )
        m = _re.match(
            r"OPTIMIZE\s+(\w+)(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?$", s, _re.I
        )
        if m and m.group(1) in acid:
            cluster = (
                [c.strip() for c in m.group(2).split(",")] if m.group(2) else None
            )
            return _version_frame(
                self.optimize_acid_table(m.group(1), cluster_by=cluster)
            )
        m = _re.match(
            r"VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
            r"(\s+DRY\s+RUN)?$",
            s,
            _re.I,
        )
        if m and m.group(1) in acid:
            kw = {}
            if m.group(2) is not None:
                kw["retain_versions"] = int(m.group(2))
            if m.group(3) is not None:
                kw["dry_run"] = True
            counts = acid[m.group(1)].vacuum(**kw)
            return self.spark.createDataFrame(
                [tuple(int(counts[k]) for k in sorted(counts))],
                ", ".join(f"{k} long" for k in sorted(counts)),
            )
        m = _re.match(
            r"RESTORE\s+(?:TABLE\s+)?(\w+)\s+TO\s+"
            r"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')$",
            s,
            _re.I,
        )
        if m and m.group(1) in acid:
            return _version_frame(
                self.restore_acid_table(
                    m.group(1),
                    version=int(m.group(2)) if m.group(2) else None,
                    timestamp=m.group(3),
                )
            )
        m = _re.match(r"DESCRIBE\s+DETAIL\s+(\w+)$", s, _re.I)
        if m and m.group(1) in acid:
            d = acid[m.group(1)].detail()
            return self.spark.createDataFrame(
                [
                    (
                        str(d["path"]),
                        int(d["version"]),
                        int(d["num_files"]),
                        int(d["num_rows"]),
                        int(d["size_bytes"]),
                        str(d["key"]),
                        str(d["order_col"]),
                        json.dumps(d["constraints"], sort_keys=True),
                        json.dumps(d["properties"], sort_keys=True),
                        bool(d["change_feed"]),
                        int(d["vacuum_watermark"]),
                    )
                ],
                "path string, version long, num_files long, num_rows long, "
                "size_bytes long, key string, order_col string, "
                "constraints string, "
                "properties string, change_feed boolean, "
                "vacuum_watermark long",
            )
        m = _re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
            r"CHECK\s*\((.+)\)$",
            s,
            _re.I | _re.S,
        )
        if m and m.group(1) in acid:
            return _version_frame(
                acid[m.group(1)].add_constraint(m.group(2), m.group(3))
            )
        m = _re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS\s*\((.+)\)$",
            s,
            _re.I | _re.S,
        )
        if m and m.group(1) in acid:
            t = acid[m.group(1)]
            v = t.add_columns(m.group(2))
            self.create_table(m.group(1), t.read())
            return _version_frame(v)
        m = _re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)$", s, _re.I
        )
        if m and m.group(1) in acid:
            return _version_frame(
                acid[m.group(1)].drop_constraint(m.group(2))
            )
        m = _re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+SET\s+TBLPROPERTIES\s*\((.+)\)$",
            s,
            _re.I | _re.S,
        )
        if m and m.group(1) in acid:
            t = acid[m.group(1)]
            v = None
            for part in self._split_top(m.group(2), ","):
                pm = _re.match(
                    r"\s*'((?:[^']|'')*)'\s*=\s*'((?:[^']|'')*)'\s*$", part
                )
                if not pm:
                    raise ValueError(
                        f"cannot parse TBLPROPERTIES entry: {part!r} "
                        "(expected 'key' = 'value')"
                    )
                v = t.set_property(
                    pm.group(1).replace("''", "'"),
                    pm.group(2).replace("''", "'"),
                )
            return _version_frame(v)
        m = _re.match(
            r"ALTER\s+TABLE\s+(\w+)\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)$",
            s,
            _re.I | _re.S,
        )
        if m and m.group(1) in acid:
            t = acid[m.group(1)]
            v = None
            for part in self._split_top(m.group(2), ","):
                pm = _re.match(r"\s*'((?:[^']|'')*)'\s*$", part)
                if not pm:
                    raise ValueError(
                        f"cannot parse TBLPROPERTIES key: {part!r}"
                    )
                v = t.unset_property(pm.group(1).replace("''", "'"))
            return _version_frame(v)
        m = _re.match(r"SHOW\s+TBLPROPERTIES\s+(\w+)$", s, _re.I)
        if m and m.group(1) in acid:
            props = acid[m.group(1)].properties()
            return self.spark.createDataFrame(
                [(k, v) for k, v in sorted(props.items())],
                "key string, value string",
            )
        m = _re.match(r"DESCRIBE\s+HISTORY\s+(\w+)$", s, _re.I)
        if m and m.group(1) in acid:
            hist = acid[m.group(1)].history()
            return self.spark.createDataFrame(
                [
                    (
                        int(h["version"]),
                        str(h["op"]),
                        int(h["n_add"]),
                        int(h["n_remove"]),
                        float(h["timestamp"]) if h["timestamp"] else None,
                    )
                    for h in hist
                ],
                "version long, op string, n_add long, n_remove long, "
                "timestamp double",
            )
        return None

    def _route_merge_into(
        self, name: str, tgt_alias: "str | None", rest: str
    ) -> DataFrame:
        """``MERGE INTO`` as SQL text, mapped onto the table's keyed
        upsert (``TxnLogTable.merge`` — latest row per key wins by the
        table's ``order_col``). The supported shape is the CDC-apply
        contract the engine's merge implements, validated explicitly:

        * ``ON`` must be an equality of the table's merge KEY on both
          sides (any aliases) — MERGE here IS keyed, not arbitrary-join;
        * ``WHEN MATCHED THEN UPDATE SET *`` and ``WHEN NOT MATCHED
          THEN INSERT *`` are both required (upsert semantics — the
          merge inserts unmatched keys and replaces matched ones);
        * ``WHEN MATCHED AND <cond> THEN DELETE`` (optional) deletes the
          key when the SOURCE row satisfies ``<cond>`` (the tombstone
          flavor; the condition reads source columns). When ``<cond>``
          is a bare source column it is treated as the CDC tombstone
          flag: consumed by the merge and never landed as data — exact
          parity with the Python API's ``delete_col``.

        The USING source is a view name or a parenthesized subquery and
        composes with time travel (``USING t VERSION AS OF k`` merges a
        historical snapshot). Differences from Delta's MERGE, stated
        rather than hidden: multiple source rows per key are resolved by
        ``order_col`` (CDC latest-wins), never an error; per-column
        UPDATE SET lists are not supported — the row is replaced; and
        the conditional DELETE always wins over UPDATE SET * for rows
        satisfying its condition (Delta applies the first matching
        clause in statement order) — the one clause order under which
        that could silently diverge (UPDATE written before the
        conditional DELETE, making the DELETE dead code under
        first-match semantics) is rejected with an error."""
        import re as _re

        acid = self._acid
        t = acid[name]
        parts = self._split_top(rest, "ON")
        if len(parts) < 2:
            raise ValueError("MERGE INTO needs an ON clause")
        using = parts[0].strip()
        after_on = "ON".join(parts[1:])  # later ONs belong to the cond
        clauses = self._split_top(after_on, "WHEN")
        cond_text = clauses[0].strip()
        km = _re.match(
            r"^(?:(\w+)\.)?(\w+)\s*=\s*(?:(\w+)\.)?(\w+)$", cond_text
        )
        # case-insensitive, like Spark's own identifier resolution
        if not km or {
            km.group(2).lower(),
            km.group(4).lower(),
        } != {t.key.lower()}:
            raise ValueError(
                f"MERGE INTO {name}: ON must equate the table's merge "
                f"key {t.key!r} on both sides (got {cond_text!r}) — "
                "this MERGE is the keyed-upsert contract"
            )
        src_alias = None
        am = _re.match(r"^(.*?)\s+(?:AS\s+)?(\w+)$", using, _re.S)
        if am and (am.group(1).strip().endswith(")") or _re.match(
            r"^\w+$", am.group(1).strip()
        )):
            using, src_alias = am.group(1).strip(), am.group(2)
        if using.startswith("("):
            body = using
        else:
            body = f"( SELECT * FROM {using} )"
        src = self.spark.sql(
            self._rewrite_time_travel(f"SELECT * FROM {body}")
        )
        from data_pipeline_kafka_ek_spark.sources.acid import _schema_of

        sch = _schema_of(t._fold_log()["schema"])
        recorded_lower: "dict[str, str]" = {}
        if sch is not None:
            # source columns the table knows are cast to the recorded
            # types (same rule as the INSERT route): a VALUES/subquery
            # literal's narrower type must never trip the append/merge
            # type-conflict guard or silently coerce. Case-insensitive,
            # normalizing to the recorded casing.
            typed = {f.name.lower(): (f.name, f.dataType) for f in sch.fields}
            recorded_lower = {f.name.lower(): f.name for f in sch.fields}
            src = src.select(
                *[
                    (
                        F.col(c).cast(typed[c.lower()][1]).alias(
                            typed[c.lower()][0]
                        )
                        if c.lower() in typed
                        else F.col(c).alias(c)
                    )
                    for c in src.columns
                ]
            )

        has_update = has_insert = False
        update_idx: "int | None" = None
        delete_idx: "int | None" = None
        delete_cond: "str | None" = None
        for ci, cl in enumerate(clauses[1:]):
            c = cl.strip().rstrip(";").strip()
            if _re.match(r"MATCHED\s+THEN\s+UPDATE\s+SET\s+\*$", c, _re.I):
                has_update = True
                update_idx = ci
            elif _re.match(
                r"NOT\s+MATCHED\s+THEN\s+INSERT\s+\*$", c, _re.I
            ):
                has_insert = True
            else:
                dm = _re.match(
                    r"MATCHED\s+AND\s+(.+?)\s+THEN\s+DELETE$", c,
                    _re.I | _re.S,
                )
                if dm:
                    delete_cond = dm.group(1)
                    delete_idx = ci
                else:
                    raise ValueError(
                        f"unsupported MERGE clause: WHEN {c!r} (supported: "
                        "MATCHED THEN UPDATE SET *, NOT MATCHED THEN "
                        "INSERT *, MATCHED AND <cond> THEN DELETE)"
                    )
        if not (has_update and has_insert):
            raise ValueError(
                f"MERGE INTO {name} is the keyed upsert: both WHEN "
                "MATCHED THEN UPDATE SET * and WHEN NOT MATCHED THEN "
                "INSERT * are required"
            )
        if (
            delete_idx is not None
            and update_idx is not None
            and update_idx < delete_idx
        ):
            # Delta/SQL apply the FIRST matching clause in statement
            # order, so an unconditional UPDATE SET * written before the
            # conditional DELETE makes the DELETE dead code there — while
            # this engine's merge is delete-wins regardless of order.
            # Reject the one ordering under which the two semantics
            # diverge instead of silently deleting rows Delta would keep.
            raise ValueError(
                f"MERGE INTO {name}: WHEN MATCHED AND <cond> THEN DELETE "
                "must precede WHEN MATCHED THEN UPDATE SET * — written "
                "after the unconditional UPDATE it would be dead code "
                "under first-match (Delta) semantics, while this merge "
                "applies the delete regardless of clause order"
            )
        delete_col = None
        if delete_cond is not None:
            # the condition reads SOURCE columns; a source-alias prefix
            # is stripped so 's.flag' and 'flag' both work. Quote-aware:
            # a string literal spelling 's.' (note = 's.tomb') survives.
            from .functions.sqltext import sub_outside_quotes

            cond = delete_cond
            for alias in (src_alias, tgt_alias):
                if alias:
                    cond = sub_outside_quotes(
                        cond, rf"\b{_re.escape(alias)}\.", ""
                    )
            cond = cond.strip()
            src_lower = {c.lower(): c for c in src.columns}
            if _re.match(r"^\w+$", cond) and cond.lower() in src_lower:
                # the CDC-tombstone shape: WHEN MATCHED AND <flag> THEN
                # DELETE names a boolean source column — it is control
                # metadata, consumed and DROPPED by the merge (exact
                # parity with the Python API's delete_col)
                delete_col = src_lower[cond.lower()]
            else:
                delete_col = "__sql_merge_delete"
                src = src.withColumn(delete_col, F.expr(cond))
                # source columns the condition references that the table
                # does NOT record are the same control metadata as the
                # bare-flag shape (e.g. "gone = true"): drop them after
                # evaluating the flag, so an expression spelling never
                # silently widens the table's schema with flag columns
                refs = {
                    w.lower()
                    for w in _re.findall(r"\b[A-Za-z_]\w*\b", cond)
                }
                control = [
                    c
                    for c in src.columns
                    if recorded_lower  # only when a schema is recorded
                    and c != delete_col
                    and c.lower() in refs
                    and c.lower() not in recorded_lower
                ]
                if control:
                    src = src.drop(*control)
        v = t.merge(src, delete_col=delete_col)
        self.create_table(name, t.read())
        return self.spark.createDataFrame([(int(v),)], "version long")

    def start_stream(
        self,
        name: str,
        stream_df: DataFrame,
        sink_format: str = "memory",
        output_mode: str = "append",
        checkpoint_dir: str | None = None,
        trigger_available_now: bool = False,
        **sink_options: str,
    ):
        """The running half of CSAS: deploy a streaming derivation as a
        named persistent query (reference: every ``CREATE ... AS SELECT
        EMIT CHANGES`` registers a continuously running query the server
        tracks; here it lands in ``spark.streams`` and ``show_queries``).
        Returns the ``StreamingQuery``; stop via ``.stop()`` or track it
        until ``awaitTermination``."""
        import tempfile

        writer = (
            stream_df.writeStream.format(sink_format)
            .queryName(name)
            .outputMode(output_mode)
            .option(
                "checkpointLocation",
                checkpoint_dir or tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
            )
        )
        for k, v in sink_options.items():
            writer = writer.option(k, v)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        self._streams.setdefault(name, stream_df)
        return writer.start()

    # -- SHOW ... (reference: README.md:71,146,181,297) ----------------------

    def show_streams(self) -> list[str]:
        return sorted(self._streams)

    def show_tables(self) -> list[str]:
        return sorted(self._tables)

    def show_connectors(self) -> list[dict[str, Any]]:
        return [
            {"name": n, "kind": c["kind"], "config": c["config"]}
            for n, c in sorted(self._connectors.items())
        ]

    def show_queries(self) -> list[dict[str, Any]]:
        """SHOW QUERIES twin: the session's active streaming queries."""
        return [
            {"id": str(q.id), "name": q.name, "isActive": q.isActive}
            for q in self.spark.streams.active
        ]

    # -- DESCRIBE [EXTENDED] (reference: README.md:101,131) ------------------

    def describe(self, name: str) -> list[dict[str, str]]:
        df = self._streams.get(name) or self._tables.get(name)
        if df is None:
            raise KeyError(f"unknown stream/table {name!r}")
        return [
            {"column": f.name, "type": f.dataType.simpleString()}
            for f in df.schema.fields
        ]

    def describe_extended(self, name: str) -> dict[str, Any]:
        """Schema + kind + last progress of any active query with this name
        (the DESCRIBE EXTENDED runtime stats, README.md:131)."""
        kind = "stream" if name in self._streams else "table"
        progress = next(
            (
                q.lastProgress
                for q in self.spark.streams.active
                if q.name == name and q.lastProgress
            ),
            None,
        )
        return {"name": name, "kind": kind, "schema": self.describe(name),
                "lastProgress": progress}

    # -- ACID-backed tables (sources/acid.py) --------------------------------

    def create_acid_table(self, name: str, path: str, key: str, order_col: str,
                          schema: Any = None, **kw: Any):
        """CTAS onto durable ACID storage: register a TxnLogTable so the
        control surface can serve its current snapshot as the named table
        (each ``describe``/``sql`` access reads the LATEST snapshot — the
        ksqlDB current-table-state semantics on a transaction log instead
        of a compacted topic). Returns the TxnLogTable handle for writers
        (append/merge/foreach_batch_writer).

        ``schema`` (a StructType) makes CTAS-onto-a-new-path immediately
        queryable: the table publishes a data-free ``create`` commit
        carrying the schema, and the registered view is an empty DataFrame
        of that shape until the first write. Without it, a brand-new path
        yields the handle only (there is no shape to register)."""
        from data_pipeline_kafka_ek_spark.sources.acid import TxnLogTable

        t = TxnLogTable(self.spark, path, key=key, order_col=order_col, **kw)
        if schema is not None:
            t.initialize(schema)
        self._acid = getattr(self, "_acid", {})
        self._acid[name] = t
        # a log holding only data-free commits (e.g. an ALTER ADD
        # CONSTRAINT before the first write) has versions but no recorded
        # schema — there is no shape to register yet; the first DML
        # through sql() re-pins the view once one exists
        if t._fold_log()["schema"] is not None:
            self.create_table(name, t.read())
        return t

    def describe_history(self, name: str) -> list[dict[str, Any]]:
        """DESCRIBE HISTORY twin for ACID tables: the commit log (version,
        op, txn, file deltas), oldest first. Log-only metadata, no data
        scan."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        return acid[name].history()

    def optimize_acid_table(
        self, name: str, cluster_by: "list[str] | None" = None
    ) -> "int | None":
        """Compact the named ACID table's live file set (see
        ``TxnLogTable.optimize``) and re-pin the registered view to the
        compacted snapshot. ``cluster_by`` is OPTIMIZE ZORDER BY: the
        rewrite clusters on the interleaved-bit z-value of the listed
        columns so filters on any of them prune files/row-groups at scan
        time. Returns the optimize commit's version, or None if the
        table was already compact (plain compaction only — a z-order
        request always re-lays-out)."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        v = acid[name].optimize(cluster_by=cluster_by)
        if v is not None:
            self.create_table(name, acid[name].read())
        return v

    def refresh_acid_table(self, name: str) -> DataFrame:
        """Re-pin the registered view to the table's newest snapshot (a
        reader holding the old DataFrame keeps its pinned file list —
        snapshot isolation; this is the explicit advance)."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        return self.create_table(name, acid[name].read())

    def table_changes(
        self, name: str, since_version: int = -1, mode: str = "changes"
    ) -> DataFrame:
        """Delta's ``table_changes`` TVF as a control-surface call: the
        named ACID table's incremental feed from a cursor. ``mode``
        picks the flavor — ``changes`` (post-image rows +
        _commit_version/_commit_op), ``rows`` (the typed row-level feed:
        _change_type pre/post images, requires change_feed merges), or
        ``deltas`` (signed ±1 _weight rows for incremental folds)."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        t = acid[name]
        readers = {
            "changes": t.read_changes,
            "rows": t.read_row_changes,
            "deltas": t.read_deltas,
        }
        if mode not in readers:
            raise ValueError(f"mode must be one of {sorted(readers)}")
        return readers[mode](since_version)

    def add_table_constraint(self, name: str, cname: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK through the control
        surface (see ``TxnLogTable.add_constraint``): validates existing
        rows first, then gates every subsequent write."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        return acid[name].add_constraint(cname, expr)

    def drop_table_constraint(self, name: str, cname: str) -> int:
        """ALTER TABLE DROP CONSTRAINT through the control surface."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        return acid[name].drop_constraint(cname)

    def delete_from_acid_table(
        self, name: str, condition, **kw: Any
    ) -> "int | None":
        """Predicate DELETE through the control surface (see
        ``TxnLogTable.delete_where``); re-pins the registered view when
        rows were deleted. Returns the commit version or None."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        v = acid[name].delete_where(condition, **kw)
        if v is not None:
            self.create_table(name, acid[name].read())
        return v

    def update_acid_table(
        self, name: str, condition, assignments: dict, **kw: Any
    ) -> "int | None":
        """Predicate UPDATE through the control surface (see
        ``TxnLogTable.update_where``); re-pins the registered view when
        rows changed. Returns the commit version or None."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        v = acid[name].update_where(condition, assignments, **kw)
        if v is not None:
            self.create_table(name, acid[name].read())
        return v

    def restore_acid_table(
        self,
        name: str,
        version: "int | None" = None,
        timestamp=None,
    ) -> "int | None":
        """RESTORE through the control surface (see
        ``TxnLogTable.restore``); re-pins the registered view when the
        snapshot changed. Returns the restore commit's version or None
        (target == current)."""
        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        v = acid[name].restore(version=version, timestamp=timestamp)
        if v is not None:
            self.create_table(name, acid[name].read())
        return v

    def replicate_table(
        self,
        name: str,
        dst_path: str,
        register_as: "str | None" = None,
        **target_kw: Any,
    ):
        """One-call ACID-to-ACID replication: advance (or create) the
        keyed replica of the named ACID table at ``dst_path`` from its
        typed row-level change feed (``sources/incremental.py::
        TableReplicator`` — read_row_changes composed with the keyed
        merge, exactly-once via the target-side txn cursor). Carries the
        feed's span/epoch guards verbatim: refuses vacuumed spans and
        cdc-less merges instead of silently corrupting the replica.
        Idempotent per call — a caught-up replica is a no-op — and
        restartable: the cursor lives in the replica's own log. When
        ``register_as`` is given the replica snapshot is registered as a
        queryable table after the advance. Returns the replicator handle
        (``.target`` is the replica TxnLogTable, ``.cursor()`` the source
        version replicated so far)."""
        from data_pipeline_kafka_ek_spark.sources.incremental import (
            TableReplicator,
        )

        acid = getattr(self, "_acid", {})
        if name not in acid:
            raise KeyError(f"unknown acid table {name!r}")
        rep = TableReplicator(acid[name], dst_path, **target_kw)
        rep.replicate()
        if register_as is not None:
            self._acid = getattr(self, "_acid", {})
            self._acid[register_as] = rep.target
            self.create_table(register_as, rep.read())
        return rep

    # -- PRINT 'topic' probe (reference: README.md:73,185) -------------------

    def print_rows(self, name: str, n: int = 5) -> list[dict[str, Any]]:
        """Raw-row inspection twin of ``PRINT 'topic' FROM BEGINNING`` /
        ``SELECT ... LIMIT 5`` (L1/L2): first n rows as dicts. Driver-side
        by design — it is a probe, not a pipeline operator."""
        df = self._streams.get(name) or self._tables.get(name)
        if df is None:
            raise KeyError(f"unknown stream/table {name!r}")
        return [r.asDict() for r in df.limit(n).collect()]
