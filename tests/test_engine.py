"""Engine facade tests (SURVEY.md §2.12 control/metadata surface + §3.5
CREATE-...-AS-SELECT vocabulary): registry, SHOW/DESCRIBE, SQL entry
point, connector registry, active-query listing, PRINT probe."""

import pyspark.sql.functions as F
import pytest

from data_pipeline_kafka_ek_spark.engine import Engine
from data_pipeline_kafka_ek_spark.operators.relational import latest_per_key
from data_pipeline_kafka_ek_spark.plans import reference as ref
from data_pipeline_kafka_ek_spark.sources.tables import load_table


@pytest.fixture()
def engine(spark):
    return Engine(spark)


def test_csas_registry_and_sql_duality(engine, spark, sf_dir):
    """A registered stream is addressable from both APIs and both agree —
    the ksqlDB 'derived object is also a topic' property (README.md:99)."""
    events = load_table(spark, sf_dir, "events")
    engine.create_stream("events_live", ref.events_live(events))
    api_count = engine._streams["events_live"].count()
    sql_count = engine.sql("SELECT count(*) AS n FROM events_live").first()["n"]
    assert api_count == sql_count > 0
    assert engine.show_streams() == ["events_live"]


def test_ctas_latest_per_key_table(engine, spark, sf_dir):
    """CREATE TABLE twin: latest-per-key over a changelog
    (reference: ksqldb-statements.sql:42-43)."""
    customer = load_table(spark, sf_dir, "customer")
    engine.create_table(
        "customers_t",
        latest_per_key(customer, "c_custkey", [F.desc("c_custkey")]),
    )
    assert engine.show_tables() == ["customers_t"]
    assert "customers_t" not in engine.show_streams()
    cols = {c["column"] for c in engine.describe("customers_t")}
    assert "c_custkey" in cols


def test_describe_matches_schema(engine, spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    engine.create_stream("ev", events)
    d = {c["column"]: c["type"] for c in engine.describe("ev")}
    assert d["ts"] == "timestamp"
    assert d["user_id"] == "bigint"
    with pytest.raises(KeyError):
        engine.describe("nope")


def test_connector_registry(engine):
    engine.create_connector(
        "sink-es-01", "sink", {"topics": "events_live", "key.ignore": "false"}
    )
    engine.create_connector("source-datagen-01", "source", {"quickstart": "ratings"})
    names = [c["name"] for c in engine.show_connectors()]
    assert names == ["sink-es-01", "source-datagen-01"]
    with pytest.raises(ValueError):
        engine.create_connector("bad", "transform", {})


def test_show_queries_sees_active_stream(engine, spark, sf_dir):
    """SHOW QUERIES twin (README.md:297): an active streaming query is
    listed while running, gone after stop."""
    from data_pipeline_kafka_ek_spark.streaming import runtime as srt

    stream = srt.stream_table(spark, sf_dir, "events")
    counts = srt.windowed_counts(stream)
    import tempfile

    q = (
        counts.writeStream.format("memory")
        .queryName("engine_q1")
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_engine_"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert any(e["name"] == "engine_q1" for e in engine.show_queries())
    finally:
        q.awaitTermination()
    assert not any(e["name"] == "engine_q1" for e in engine.show_queries())


def test_print_rows_probe(engine, spark, sf_dir):
    """PRINT 'topic' / LIMIT probe twin (README.md:73; L1/L2)."""
    engine.create_stream("ev", load_table(spark, sf_dir, "events"))
    rows = engine.print_rows("ev", n=5)
    assert len(rows) == 5
    assert {"event_id", "ts", "user_id"} <= set(rows[0])


def test_describe_extended_kind_and_schema(engine, spark, sf_dir):
    engine.create_table(
        "cust",
        latest_per_key(
            load_table(spark, sf_dir, "customer"), "c_custkey", [F.desc("c_custkey")]
        ),
    )
    ext = engine.describe_extended("cust")
    assert ext["kind"] == "table"
    assert ext["lastProgress"] is None
    assert any(c["column"] == "c_custkey" for c in ext["schema"])


def test_start_stream_persistent_query_lifecycle(engine, spark, sf_dir):
    """CSAS deploy twin: start_stream registers a named running query
    visible in SHOW QUERIES; its memory-sink output matches the batch
    twin after availableNow completion."""
    from data_pipeline_kafka_ek_spark.streaming import runtime as srt

    stream = srt.stream_table(spark, sf_dir, "events")
    q = engine.start_stream(
        "events_live_q",
        stream.filter(~F.lower("event_type").like("%err%")),
        trigger_available_now=True,
    )
    try:
        assert any(e["name"] == "events_live_q" for e in engine.show_queries())
    finally:
        q.awaitTermination()
    from data_pipeline_kafka_ek_spark.sources.tables import load_table

    batch_n = (
        load_table(spark, sf_dir, "events")
        .filter(~F.lower("event_type").like("%err%"))
        .count()
    )
    assert spark.table("events_live_q").count() == batch_n
    assert "events_live_q" in engine.show_streams()


def test_engine_full_reference_lineage(engine, spark, sf_dir):
    """The complete ksqldb-statements.sql derivation chain deployed
    through the Engine vocabulary: source stream -> LIVE/TEST split ->
    customers table -> enrichment -> unhappy-VIP filter -> windowed CTAS,
    every step registered and SQL-addressable, results equal to the
    direct plans."""
    from data_pipeline_kafka_ek_spark.plans import reference as ref
    from data_pipeline_kafka_ek_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")

    engine.create_stream("ratings", events)
    engine.create_stream("ratings_live", ref.events_live(events))
    engine.create_stream("ratings_test", ref.events_test(events))
    engine.create_table(
        "customers",
        latest_per_key(customer, "c_custkey", [F.desc("c_custkey")]),
    )
    engine.create_stream(
        "ratings_enriched", ref.enriched_events(events, customer)
    )
    engine.create_stream(
        "unhappy_vip", ref.unhappy_vip_customers(events, customer)
    )
    engine.create_table(
        "ratings_per_customer_15min",
        ref.events_per_customer_per_15min(events, customer),
    )

    assert engine.show_streams() == [
        "ratings", "ratings_enriched", "ratings_live", "ratings_test", "unhappy_vip",
    ]
    assert engine.show_tables() == ["customers", "ratings_per_customer_15min"]

    # live ∪ test == ratings (the §2.8 partition identity), via SQL
    n = engine.sql(
        "SELECT (SELECT count(*) FROM ratings_live) + "
        "(SELECT count(*) FROM ratings_test) AS n"
    ).first()["n"]
    assert n == events.count()

    # SQL view and registered DataFrame agree on the flagship derivation
    sql_n = engine.sql("SELECT count(*) AS n FROM unhappy_vip").first()["n"]
    assert sql_n == ref.unhappy_vip_customers(events, customer).count() > 0

    # windowed CTAS is queryable with a window-time predicate (F9)
    win = engine.sql(
        "SELECT count(*) AS n FROM ratings_per_customer_15min "
        "WHERE window_start > '2024-01-15'"
    ).first()["n"]
    assert win > 0


def test_ksql_named_sql_functions(spark):
    """The ksqlDB scalar surface is callable from plain spark.sql by its
    ksqlDB names, as SQL-body Catalyst macros — zero Python in the plan."""
    from data_pipeline_kafka_ek_spark.functions.scalars import (
        register_sql_functions,
    )

    names = register_sql_functions(spark)
    assert "TIMESTAMPTOSTRING" in names and "EXTRACTJSONFIELD" in names
    # LCASE/UCASE are Spark built-ins with ksqlDB semantics already
    row = spark.sql(
        """
        SELECT TIMESTAMPTOSTRING(TIMESTAMP'2024-01-02 03:04:05','HH:mm:ss') AS t,
               LCASE('AbC') AS lc, UCASE('AbC') AS uc,
               EXTRACTJSONFIELD('{"a": {"b": 7}}', '$.a.b') AS j,
               CONCAT_STRICT('x', NULL) AS c_null,
               CONCAT_STRICT('x', 'y') AS c
        """
    ).collect()[0]
    assert (row.t, row.lc, row.uc, row.j) == ("03:04:05", "abc", "ABC", "7")
    assert row.c_null is None and row.c == "xy"
    df = spark.sql("SELECT LCASE('A') AS x")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "Python" not in plan  # expression macro, not a UDF


def test_engine_acid_table_registration_and_history(spark, tmp_path):
    """The control surface serves an ACID-backed table: CTAS registers the
    TxnLogTable snapshot as a SQL-addressable view, DESCRIBE HISTORY
    exposes the commit log, and refresh re-pins the view to the newest
    snapshot after a merge while an old handle keeps its pinned files."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "dim_users", str(tmp_path / "t"), key="k", order_col="seq"
    )
    t.append(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string")
    )
    eng.refresh_acid_table("dim_users")
    assert {r.k for r in eng.sql("SELECT k FROM dim_users").collect()} == {1, 2}

    old_handle = t.read()
    t.merge(spark.createDataFrame([(2, 9, "b2")], "k long, seq long, v string"))
    hist = eng.describe_history("dim_users")
    assert [h["op"] for h in hist] == ["append", "merge"]
    # snapshot isolation: the pre-merge handle still reads the old value
    assert {r.v for r in old_handle.collect()} == {"a", "b"}
    eng.refresh_acid_table("dim_users")
    assert {r.v for r in eng.sql("SELECT v FROM dim_users").collect()} == {"a", "b2"}
    # OPTIMIZE through the control surface: data unchanged, view re-pinned
    for i in range(6):
        t.append(
            spark.createDataFrame([(10 + i, 1, f"x{i}")], "k long, seq long, v string")
        )
    before = {r.k for r in eng.sql("SELECT k FROM dim_users").collect()}
    assert eng.optimize_acid_table("dim_users") is not None
    assert eng.describe_history("dim_users")[-1]["op"] == "optimize"
    got = {r.k for r in eng.sql("SELECT k FROM dim_users").collect()}
    assert got == before | {10 + i for i in range(6)}
    # table_changes TVF twin: the feed from a cursor through the control
    # surface — version 0 is the first append, so since=0 starts at the
    # merge; deltas mode carries the signed weights
    feed = eng.table_changes("dim_users", since_version=0)
    assert {r.v for r in feed.filter("_commit_op = 'merge'").collect()} == {"b2"}
    deltas = eng.table_changes("dim_users", since_version=0, mode="deltas")
    assert set(deltas.select("_weight").distinct().toPandas()["_weight"]) <= {1, -1}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mode"):
        eng.table_changes("dim_users", mode="nope")


def test_engine_replicate_table_across_evolution_and_compaction(spark, tmp_path):
    """replicate_table: the typed row-level feed composed with the keyed
    merge as ONE control-surface call — the replica converges to the
    source across upserts, deletes, schema evolution and compaction,
    applied incrementally (a second call from the durable cursor moves
    only the new span), and a caught-up replica is a no-op."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    src = eng.create_acid_table(
        "src_tbl", str(tmp_path / "src"), key="k", order_col="seq",
        change_feed=True, files_per_commit=2,
    )
    src.append(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")],
            "k long, seq long, v string",
        )
    )
    rep = eng.replicate_table(
        "src_tbl", str(tmp_path / "dst"), register_as="replica_tbl",
        files_per_commit=2,
    )
    assert rep.cursor() == src.latest_version()
    assert {r.k for r in eng.sql("SELECT k FROM replica_tbl").collect()} == {1, 2, 3}

    # upsert + delete + schema evolution, then compaction
    src.merge(
        spark.createDataFrame(
            [(2, 2, "b2", None, False), (3, 2, None, None, True),
             (4, 2, "d", "X", False)],
            "k long, seq long, v string, extra string, dead boolean",
        ),
        delete_col="dead",
    )
    for i in range(6):
        src.append(
            spark.createDataFrame(
                [(10 + i, 3, f"x{i}", None)],
                "k long, seq long, v string, extra string",
            )
        )
    assert src.optimize(min_files=1) is not None

    rep2 = eng.replicate_table(
        "src_tbl", str(tmp_path / "dst"), register_as="replica_tbl",
        files_per_commit=2,
    )
    assert rep2.cursor() == src.latest_version()

    def state(t_read):
        return {
            r.k: (r.v, r.extra)
            for r in t_read.select("k", "v", "extra").collect()
        }

    assert state(rep2.read()) == state(src.read())
    assert state(src.read())[2] == ("b2", None)
    assert 3 not in state(src.read())
    # caught up: replicate() inside the call was a no-op (no new target
    # version), and the registered view serves the replica through SQL
    v_dst = rep2.target.latest_version()
    assert rep2.replicate() is None
    assert rep2.target.latest_version() == v_dst
    got = {r.k for r in eng.sql("SELECT k FROM replica_tbl").collect()}
    assert got == {1, 2, 4} | {10 + i for i in range(6)}
    # guard rails: unknown source name raises
    with pytest.raises(KeyError):
        eng.replicate_table("nope", str(tmp_path / "zzz"))


def test_engine_optimize_zorder_passthrough(spark, tmp_path):
    """OPTIMIZE ... ZORDER BY through the control surface: re-lays-out
    even when the file count is already compact, records an optimize
    commit, keeps the data identical, and re-pins the registered view."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "zt", str(tmp_path / "zt"), key="k", order_col="seq",
        files_per_commit=2,
    )
    t.append(
        spark.createDataFrame(
            [(i, 1, i % 7, f"v{i}") for i in range(200)],
            "k long, seq long, d long, v string",
        )
    )
    eng.refresh_acid_table("zt")
    before = {r.k for r in eng.sql("SELECT k FROM zt").collect()}
    # plain compaction declines (already compact) — z-order proceeds
    assert eng.optimize_acid_table("zt") is None
    assert eng.optimize_acid_table("zt", cluster_by=["k", "d"]) is not None
    assert eng.describe_history("zt")[-1]["op"] == "optimize"
    assert {r.k for r in eng.sql("SELECT k FROM zt").collect()} == before


def test_engine_delete_and_update_passthrough(spark, tmp_path):
    """Predicate DELETE/UPDATE through the control surface: views re-pin
    on change, no-match calls leave version and view untouched."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "du", str(tmp_path / "du"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(
        spark.createDataFrame(
            [(1, 1, "a", 5.0), (2, 1, "b", 50.0)],
            "k long, seq long, v string, x double",
        )
    )
    eng.refresh_acid_table("du")
    assert eng.update_acid_table("du", "x > 10", {"v": "'big'"}) is not None
    assert {
        (r.k, r.v) for r in eng.sql("SELECT k, v FROM du").collect()
    } == {(1, "a"), (2, "big")}
    assert eng.delete_from_acid_table("du", "k = 1") is not None
    assert {r.k for r in eng.sql("SELECT k FROM du").collect()} == {2}
    head = t.latest_version()
    assert eng.delete_from_acid_table("du", "k = 99") is None
    assert t.latest_version() == head


def test_engine_constraint_passthrough(spark, tmp_path):
    from data_pipeline_kafka_ek_spark.engine import Engine
    from data_pipeline_kafka_ek_spark.sources.acid import ConstraintViolation

    eng = Engine(spark)
    t = eng.create_acid_table(
        "ct", str(tmp_path / "ct"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(spark.createDataFrame([(1, 1, 5.0)], "k long, seq long, x double"))
    eng.add_table_constraint("ct", "x_pos", "x > 0")
    with pytest.raises(ConstraintViolation):
        t.append(
            spark.createDataFrame([(2, 2, -1.0)], "k long, seq long, x double")
        )
    eng.drop_table_constraint("ct", "x_pos")
    t.append(spark.createDataFrame([(2, 2, -1.0)], "k long, seq long, x double"))
    assert t.constraints() == {}


def test_engine_sql_routes_acid_dml_statements(spark, tmp_path):
    """The SQL string surface is whole for ACID tables: DELETE FROM /
    UPDATE ... SET [WHERE] / OPTIMIZE [ZORDER BY] / VACUUM [RETAIN n
    VERSIONS] / DESCRIBE HISTORY route to the transactional ops (views
    re-pin), while ordinary SELECTs — and DML naming non-acid views —
    still go to spark.sql. The SET parser honors quotes/parens: commas
    and WHERE inside strings or function calls never split."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "sq", str(tmp_path / "sq"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(
        spark.createDataFrame(
            [(1, 1, "a", 5.0), (2, 1, "b", 50.0), (3, 1, "c", 500.0)],
            "k long, seq long, v string, x double",
        )
    )
    eng.refresh_acid_table("sq")

    v = eng.sql("UPDATE sq SET v = concat(v, ',WHERE'), x = x * 2 WHERE x >= 50").collect()
    assert v[0].version is not None
    assert {
        (r.k, r.v, r.x) for r in eng.sql("SELECT k, v, x FROM sq").collect()
    } == {(1, "a", 5.0), (2, "b,WHERE", 100.0), (3, "c,WHERE", 1000.0)}
    # UPDATE without WHERE hits every row
    eng.sql("UPDATE sq SET seq = 9")
    assert {r.seq for r in eng.sql("SELECT seq FROM sq").collect()} == {9}

    assert eng.sql("DELETE FROM sq WHERE k = 3").collect()[0].version is not None
    assert {r.k for r in eng.sql("SELECT k FROM sq").collect()} == {1, 2}
    # no-op DML returns a NULL version
    assert eng.sql("DELETE FROM sq WHERE k = 99").collect()[0].version is None

    hist = eng.sql("DESCRIBE HISTORY sq").collect()
    assert [h.op for h in hist][:2] == ["append", "update"]
    assert eng.sql("OPTIMIZE sq ZORDER BY (k, x)").collect()[0].version is not None
    vac = eng.sql("VACUUM sq RETAIN 50 VERSIONS").collect()[0]
    assert vac.data_files_deleted == 0  # everything retained

    # a non-acid target passes through to spark.sql and fails there
    spark.createDataFrame([(1,)], "k long").createOrReplaceTempView("plainv")
    with pytest.raises(Exception):
        eng.sql("DELETE FROM plainv WHERE k = 1")


def test_engine_sql_dml_honors_all_three_quote_forms(spark, tmp_path):
    """Spark SQL's three quoting forms must not confuse the DML router:
    a double-quoted string literal (default
    spark.sql.ansi.doubleQuotedIdentifiers=false) or a backtick-quoted
    identifier containing ',' or 'WHERE' never splits the SET clause or
    the condition; and DELETE FROM with no WHERE deletes every row (the
    same defaulted-condition rule as UPDATE)."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "qt", str(tmp_path / "qt"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b")],
            "k long, seq long, `v, WHERE me` string",
        )
    )
    eng.refresh_acid_table("qt")

    # double-quoted string literal carrying both a comma and WHERE
    eng.sql('UPDATE qt SET `v, WHERE me` = "a, b WHERE c" WHERE k = 1')
    got = {
        (r.k, r[1])
        for r in eng.sql("SELECT k, `v, WHERE me` FROM qt").collect()
    }
    assert got == {(1, "a, b WHERE c"), (2, "b")}
    # backtick-quoted column on the LEFT of an assignment comma-splits
    # correctly alongside a second assignment
    eng.sql("UPDATE qt SET `v, WHERE me` = 'z', seq = 7 WHERE k = 2")
    assert {
        (r.k, r.seq, r[2])
        for r in eng.sql("SELECT k, seq, `v, WHERE me` FROM qt").collect()
    } == {(1, 1, "a, b WHERE c"), (2, 7, "z")}

    # DELETE with no WHERE clears the table transactionally
    v = eng.sql("DELETE FROM qt").collect()[0].version
    assert v is not None
    assert eng.sql("SELECT count(*) AS n FROM qt").first()["n"] == 0


def test_engine_sql_routes_insert_into_acid_table(spark, tmp_path):
    """INSERT INTO (VALUES and SELECT forms) routes to a transactional
    append: literals are cast to the recorded schema positionally, an
    explicit column list inserts a narrow batch (missing columns land
    NULL), and inserting into a non-acid view still passes through to
    spark.sql (and fails there, as views are not insertable)."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "ins", str(tmp_path / "ins"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(
        spark.createDataFrame(
            [(1, 1, "a", 5.0)], "k long, seq long, v string, x double"
        )
    )
    eng.refresh_acid_table("ins")

    v = eng.sql(
        "INSERT INTO ins VALUES (2, 1, 'b', 6.5), (3, 1, NULL, 7.0)"
    ).collect()[0].version
    assert v == t.latest_version()
    # narrow insert via explicit column list; x lands NULL
    eng.sql("INSERT INTO ins (k, seq, v) VALUES (4, 2, 'd, WHERE')")
    # SELECT form
    eng.sql(
        "INSERT INTO ins SELECT 10 + k, seq, v, x FROM ins WHERE k = 1"
    )
    got = {
        r.k: (r.seq, r.v, r.x)
        for r in eng.sql("SELECT * FROM ins").collect()
    }
    assert got == {
        1: (1, "a", 5.0),
        2: (1, "b", 6.5),
        3: (1, None, 7.0),
        4: (2, "d, WHERE", None),
        11: (1, "a", 5.0),
    }
    assert t.history()[-1]["op"] == "append"
    # a typo in the column list must ERROR (standard SQL), never widen
    # the recorded schema forever
    with pytest.raises(ValueError, match="unknown column"):
        eng.sql("INSERT INTO ins (k, nosuch) VALUES (5, 'x')")
    assert set(t.read().columns) == {
        "k", "seq", "v", "x"
    }

    spark.createDataFrame([(1,)], "k long").createOrReplaceTempView("plainw")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO plainw VALUES (2)")


def test_engine_sql_routes_detail_and_constraint_ddl(spark, tmp_path):
    """DESCRIBE DETAIL and ALTER TABLE ADD/DROP CONSTRAINT complete the
    statement surface: detail is a one-row metadata frame (zero data
    jobs), ADD CONSTRAINT validates existing rows then gates writes
    (a violating INSERT through SQL is refused), DROP lifts the gate."""
    from data_pipeline_kafka_ek_spark.engine import Engine
    from data_pipeline_kafka_ek_spark.sources.acid import (
        ConstraintViolation,
    )

    eng = Engine(spark)
    t = eng.create_acid_table(
        "ddlq", str(tmp_path / "ddlq"), key="k", order_col="seq",
        files_per_commit=1, change_feed=True,
    )
    t.append(
        spark.createDataFrame(
            [(1, 1, 5.0), (2, 1, 7.5)], "k long, seq long, x double"
        )
    )
    eng.refresh_acid_table("ddlq")

    v = eng.sql(
        "ALTER TABLE ddlq ADD CONSTRAINT x_nonneg CHECK (x >= 0)"
    ).collect()[0].version
    assert v == t.latest_version()
    d = eng.sql("DESCRIBE DETAIL ddlq").collect()[0]
    assert d.version == v and d.num_rows == 2 and d.key == "k"
    assert d.change_feed is True
    assert '"x_nonneg"' in d.constraints
    with pytest.raises(ConstraintViolation, match="x_nonneg"):
        eng.sql("INSERT INTO ddlq VALUES (3, 2, -1.0)")
    # a violating existing row refuses the ALTER itself
    with pytest.raises(ConstraintViolation, match="existing rows"):
        eng.sql("ALTER TABLE ddlq ADD CONSTRAINT x_small CHECK (x < 6)")
    eng.sql("ALTER TABLE ddlq DROP CONSTRAINT x_nonneg")
    eng.sql("INSERT INTO ddlq VALUES (3, 2, -1.0)")
    assert eng.sql("SELECT count(*) AS n FROM ddlq").first()["n"] == 3
    assert eng.sql("DESCRIBE DETAIL ddlq").collect()[0].constraints == "{}"


def test_engine_sql_select_time_travel(spark, tmp_path):
    """SELECT-side time travel (Delta's syntax): FROM/JOIN <acid>
    VERSION AS OF k and TIMESTAMP AS OF 'ts' pin the named snapshot
    inside an ordinary SELECT — including a self-join of two versions —
    while non-acid names pass through untouched."""
    import time

    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    t = eng.create_acid_table(
        "tt", str(tmp_path / "tt"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(
        spark.createDataFrame(
            [(1, 1, 10.0), (2, 1, 20.0)], "k long, seq long, x double"
        )
    )
    time.sleep(1.1)
    mid = time.time()
    time.sleep(1.1)
    eng.sql("UPDATE tt SET x = x * 10 WHERE k = 2")
    eng.sql("INSERT INTO tt VALUES (3, 2, 30.0)")

    assert eng.sql("SELECT count(*) AS n FROM tt").first()["n"] == 3
    assert eng.sql(
        "SELECT count(*) AS n FROM tt VERSION AS OF 0"
    ).first()["n"] == 2
    assert eng.sql(
        "SELECT sum(x) AS s FROM tt VERSION AS OF 0"
    ).first()["s"] == 30.0
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(mid, timezone.utc).replace(tzinfo=None).isoformat()
    assert eng.sql(
        f"SELECT sum(x) AS s FROM tt TIMESTAMP AS OF '{ts}'"
    ).first()["s"] == 30.0
    # cross-version self-join: the per-key delta between two snapshots
    rows = {
        (r.k, r.dx)
        for r in eng.sql(
            "SELECT now.k AS k, now.x - old.x AS dx "
            "FROM tt now JOIN tt VERSION AS OF 0 old ON now.k = old.k"
        ).collect()
    }
    assert rows == {(1, 0.0), (2, 180.0)}
    # a non-acid name with the syntax is left for spark.sql to judge
    spark.createDataFrame([(1,)], "k long").createOrReplaceTempView("plaintt")
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM plaintt VERSION AS OF 0").collect()
    # the rewriter is quote-aware: a string literal that happens to
    # contain 'FROM tt VERSION AS OF 99' is data, not syntax — it must
    # compare verbatim (and must not raise on the nonexistent version)
    eng.sql("INSERT INTO tt VALUES (4, 3, 40.0)")
    eng.create_table("ttnotes", eng.sql(
        "SELECT k, 'FROM tt VERSION AS OF 99 is cool' AS note FROM tt"
    ))
    assert eng.sql(
        "SELECT count(*) AS n FROM ttnotes "
        "WHERE note = 'FROM tt VERSION AS OF 99 is cool'"
    ).first()["n"] == 4
    # time travel composes with routed DML: the INSERT body's snapshot
    # read pins before planning (and VALUES( with no space also routes)
    eng.sql("INSERT INTO tt SELECT k + 100, seq, x FROM tt VERSION AS OF 0")
    assert eng.sql(
        "SELECT count(*) AS n FROM tt WHERE k > 100"
    ).first()["n"] == 2
    eng.sql("INSERT INTO tt VALUES(201, 9, 1.0)")
    assert eng.sql(
        "SELECT count(*) AS n FROM tt WHERE k = 201"
    ).first()["n"] == 1


def test_engine_sql_script_runs_statement_files(spark, tmp_path):
    """sql_script is the reference's statements-file flow: top-level
    ';' splits (quoted ';' survives), '--' comments strip quote-aware,
    statements run in order through the same router, and the result
    frames come back per statement."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    eng.create_acid_table(
        "scr", str(tmp_path / "scr"), key="k", order_col="seq",
        files_per_commit=1,
        schema=spark.createDataFrame(
            [], "k long, seq long, v string"
        ).schema,
    )
    results = eng.sql_script(
        """
        -- seed two rows; the second value carries a ; and a --
        INSERT INTO scr VALUES (1, 1, 'a'), (2, 1, 'x; -- not a comment');
        UPDATE scr SET v = 'b' WHERE k = 1;  -- trailing comment
        ALTER TABLE scr SET TBLPROPERTIES ('stage' = 'ready');
        SELECT k, v FROM scr
        """
    )
    assert len(results) == 4
    assert {(r.k, r.v) for r in results[-1].collect()} == {
        (1, "b"),
        (2, "x; -- not a comment"),
    }
    assert eng._acid["scr"].properties() == {"stage": "ready"}


def test_sql_script_bootstraps_a_lakehouse_from_nothing(spark, tmp_path):
    """Capstone: ONE statements file — the reference's deployment shape
    — creates the ACID table, loads it, guards it with a CHECK, runs
    the DML lifecycle, sets its layout policy, and the final SELECT
    time-travels across its own history. Everything through the same
    SQL router a REST body would hit."""
    from data_pipeline_kafka_ek_spark.engine import Engine

    eng = Engine(spark)
    loc = str(tmp_path / "boot")
    results = eng.sql_script(
        f"""
        -- create and seed
        CREATE ACID TABLE boot (k LONG, seq LONG, x DOUBLE)
          LOCATION '{loc}' KEY k ORDER BY seq WITH CHANGE FEED;
        INSERT INTO boot VALUES (1, 1, 5.0), (2, 1, 50.0), (3, 1, 500.0);
        ALTER TABLE boot ADD CONSTRAINT x_nonneg CHECK (x >= 0);
        ALTER TABLE boot SET TBLPROPERTIES ('zorder.columns' = 'k, x');
        -- the DML span
        UPDATE boot SET x = x * 2 WHERE x >= 50;
        DELETE FROM boot WHERE k = 3;
        OPTIMIZE boot;
        -- pre-DML rows seen from after the span (version 1 = the INSERT)
        SELECT count(*) AS n FROM boot VERSION AS OF 1;
        SELECT k, x FROM boot
        """
    )
    assert results[0].collect()[0].version == 0  # the create commit
    assert results[-2].first()["n"] == 3
    assert {(r.k, r.x) for r in results[-1].collect()} == {
        (1, 5.0),
        (2, 100.0),
    }
    t = eng._acid["boot"]
    assert t.constraints() == {"x_nonneg": "x >= 0"}
    assert t.properties()["zorder.columns"] == "k, x"
    assert t.change_feed is True
    assert [h["op"] for h in t.history()][:2] == ["create", "append"]
    with pytest.raises(Exception):
        eng.sql("INSERT INTO boot VALUES (9, 9, -1.0)")


def test_statements_file_replay_matches_python_twins(spark, sf_dir):
    """The reference's deployable statements file, transliterated,
    replays END TO END through sql_script: SET, source connector DDL,
    source STREAM/TABLE declarations with a column-list contract, the
    RATINGS_LIVE split, the enrichment CSAS, the unhappy CSAS with
    PARTITION BY + EMIT CHANGES, and the windowed CTAS with the
    reference's WINDOW TUMBLING clause (reference:
    ksqldb-statements.sql:13-17,19-45,48-68,88-96). Every derived
    result matches its Python-API twin row for row."""
    eng = Engine(spark)
    results = eng.sql_script(
        f"""
        SET 'auto.offset.reset' = 'earliest';

        CREATE SOURCE CONNECTOR REPLAY_SOURCE_01 WITH (
            'connector.class' = 'events.generator',
            'kafka.topic' = 'ratings');

        CREATE STREAM REPLAY_RATINGS (event_id BIGINT, ts TIMESTAMP,
                                      user_id BIGINT, event_type STRING,
                                      value DOUBLE)
          WITH (path='{sf_dir}/events.parquet', format='parquet',
                timestamp='ts');

        CREATE TABLE REPLAY_CUSTOMERS (c_custkey BIGINT PRIMARY KEY,
                                       c_name STRING, c_mktsegment STRING)
          WITH (path='{sf_dir}/customer.parquet', format='parquet');

        CREATE STREAM REPLAY_LIVE AS
          SELECT event_id, ts, user_id, event_type, value
          FROM REPLAY_RATINGS
          WHERE lcase(event_type) NOT LIKE '%err%' EMIT CHANGES;

        CREATE STREAM REPLAY_ENRICHED WITH (timestamp='ts') AS
          SELECT r.event_id, r.ts, r.user_id, r.event_type, r.value,
                 c.c_name, c.c_mktsegment,
                 c.c_name || ' ' || c.c_mktsegment AS customer_label
          FROM REPLAY_LIVE r
          LEFT JOIN REPLAY_CUSTOMERS c ON r.user_id = c.c_custkey
          WHERE c.c_name IS NOT NULL EMIT CHANGES;

        CREATE STREAM REPLAY_UNHAPPY AS
          SELECT event_id, user_id, value, customer_label
          FROM REPLAY_ENRICHED
          WHERE value < 50.0 AND c_mktsegment = 'BUILDING'
          PARTITION BY customer_label;

        CREATE SINK CONNECTOR REPLAY_SINK_ES WITH (
            'topics' = 'REPLAY_UNHAPPY', 'key.ignore' = 'true');

        CREATE TABLE REPLAY_PER_CUSTOMER_15M AS
          SELECT customer_label, count(*) AS rating_count,
                 sort_array(collect_list(event_id)) AS event_ids
          FROM REPLAY_ENRICHED
          WINDOW TUMBLING (SIZE 15 MINUTE)
          GROUP BY customer_label EMIT CHANGES;
        """
    )
    assert len(results) == 9
    assert eng._options["auto.offset.reset"] == "earliest"
    assert {c["name"] for c in eng.show_connectors()} >= {
        "REPLAY_SOURCE_01", "REPLAY_SINK_ES",
    }
    assert eng._keys["REPLAY_UNHAPPY"] == "customer_label"

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    # enrichment matches the Python twin
    want_enriched = {
        (r.event_id, r.c_name)
        for r in ref.enriched_events(events, customer).collect()
    }
    got_enriched = {
        (r.event_id, r.c_name)
        for r in eng.sql("SELECT event_id, c_name FROM REPLAY_ENRICHED")
        .collect()
    }
    assert got_enriched == want_enriched and got_enriched
    # the unhappy slice matches the flagship twin
    want_unhappy = {
        (r.event_id, r.value)
        for r in ref.unhappy_vip_customers(events, customer).collect()
    }
    got_unhappy = {
        (r.event_id, r.value) for r in results[6].collect()
    }
    assert got_unhappy == want_unhappy and got_unhappy
    # the windowed CTAS matches the Python windowed twin (15m tumbling,
    # same collect_list content) and exposes WINDOWSTART/WINDOWEND
    twin = (
        ref.enriched_events(events, customer)
        .groupBy(
            F.window("ts", "15 minutes").alias("w"), "customer_label"
        )
        .agg(
            F.count(F.lit(1)).alias("rating_count"),
            F.sort_array(F.collect_list("event_id")).alias("event_ids"),
        )
        .select(
            F.col("w.start").alias("windowstart"),
            "customer_label",
            "rating_count",
        )
    )
    got_windowed = {
        (r.windowstart, r.customer_label, r.rating_count)
        for r in eng.sql(
            "SELECT windowstart, customer_label, rating_count "
            "FROM REPLAY_PER_CUSTOMER_15M"
        ).collect()
    }
    assert got_windowed == {
        (r.windowstart, r.customer_label, r.rating_count)
        for r in twin.collect()
    }
    assert "windowend" in [
        c.lower() for c in eng._tables["REPLAY_PER_CUSTOMER_15M"].columns
    ]


def test_sql_windowed_hopping_and_session_rewrites(spark, sf_dir):
    """WINDOW HOPPING (SIZE..ADVANCE BY..) and WINDOW SESSION (gap)
    rewrite to Spark's window()/session_window() — SQL text produces
    the same frames as the DataFrame API (T3/T4 as statements)."""
    eng = Engine(spark)
    eng.sql(
        f"""CREATE STREAM HOPSRC (ts TIMESTAMP, event_type STRING,
                user_id BIGINT)
            WITH (path='{sf_dir}/events.parquet', format='parquet',
                  timestamp='ts')"""
    )
    got_hop = {
        (r.windowstart, r.event_type, r.n)
        for r in eng.sql(
            """CREATE TABLE HOP30_15 AS
               SELECT event_type, count(*) AS n FROM HOPSRC
               WINDOW HOPPING (SIZE 30 MINUTES, ADVANCE BY 15 MINUTES)
               GROUP BY event_type EMIT CHANGES"""
        ).select("windowstart", "event_type", "n").collect()
    }
    events = load_table(spark, sf_dir, "events")
    want_hop = {
        (r.w.start, r.event_type, r.n)
        for r in events.groupBy(
            F.window("ts", "30 minutes", "15 minutes").alias("w"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got_hop == want_hop and got_hop

    got_sess = {
        (r.windowstart, r.user_id, r.n)
        for r in eng.sql(
            """CREATE TABLE SESS5 AS
               SELECT user_id, count(*) AS n FROM HOPSRC
               WINDOW SESSION (5 MINUTES)
               GROUP BY user_id"""
        ).select("windowstart", "user_id", "n").collect()
    }
    want_sess = {
        (r.w.start, r.user_id, r.n)
        for r in events.groupBy(
            F.session_window("ts", "5 minutes").alias("w"), "user_id"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got_sess == want_sess and got_sess
    # a windowed statement without a resolvable event time errors clearly
    spark.createDataFrame([(1,)], "k long").createOrReplaceTempView("NOTS")
    with pytest.raises(ValueError, match="event-time"):
        eng.sql(
            "CREATE TABLE X AS SELECT count(*) AS n FROM NOTS "
            "WINDOW TUMBLING (SIZE 1 MINUTE) GROUP BY k"
        )


def test_create_acid_table_as_select_bootstrap(spark, tmp_path, sf_dir):
    """CREATE ACID TABLE ... AS SELECT: one statement derives the
    schema from the SELECT and publishes the result as the initial
    commits (create + append); DESCRIBE DETAIL reflects it, and the
    table is immediately queryable and DML-able."""
    eng = Engine(spark)
    loc = str(tmp_path / "ctas")
    res = eng.sql_script(
        f"""
        CREATE STREAM CTAS_SRC (event_id BIGINT, user_id BIGINT,
                                value DOUBLE)
          WITH (path='{sf_dir}/events.parquet', format='parquet');
        CREATE ACID TABLE ctas_events LOCATION '{loc}'
          KEY event_id ORDER BY value WITH CHANGE FEED AS
          SELECT event_id, user_id, value FROM CTAS_SRC
          WHERE value >= 90.0;
        """
    )
    v = res[-1].first().version
    assert v == 1  # 0 = create (schema), 1 = the loading append
    d = eng.sql("DESCRIBE DETAIL ctas_events").first()
    want = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") >= 90.0)
        .count()
    )
    assert d.num_rows == want and d.change_feed
    assert d.key == "event_id"
    assert eng.sql(
        "SELECT count(*) AS n FROM ctas_events"
    ).first()["n"] == want
    eng.sql("DELETE FROM ctas_events WHERE value < 95.0")
    assert eng.sql(
        "SELECT min(value) AS lo FROM ctas_events"
    ).first()["lo"] >= 95.0
    # KEY/ORDER BY must come from the SELECT's output
    with pytest.raises(ValueError, match="not in the query"):
        eng.sql(
            f"CREATE ACID TABLE bad LOCATION '{tmp_path / 'bad'}' "
            "KEY nope ORDER BY value AS SELECT value FROM CTAS_SRC"
        )


def test_source_declaration_without_path_registers_binding(spark):
    """A source declaration with only broker properties (no path) —
    the reference's literal shape — registers a typed EMPTY relation
    plus the connector-style binding: the topology deploys, downstream
    statements plan, and the binding is inspectable."""
    eng = Engine(spark)
    df = eng.sql(
        """CREATE STREAM BARE_RATINGS (rating_id BIGINT, stars INT,
               channel VARCHAR)
           WITH (kafka_topic='ratings', value_format='AVRO')"""
    )
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "rating_id", "stars", "channel",
    ]
    assert df.schema["channel"].dataType.simpleString() == "string"
    binding = next(
        c for c in eng.show_connectors() if c["name"] == "BARE_RATINGS"
    )
    assert binding["config"]["kafka_topic"] == "ratings"
    # downstream CSAS over the empty declaration still plans and runs
    out = eng.sql(
        "CREATE STREAM BARE_LIVE AS SELECT rating_id, stars "
        "FROM BARE_RATINGS WHERE stars < 3"
    )
    assert out.count() == 0


def test_engine_sql_merge_into_keyed_upsert(spark, tmp_path):
    """MERGE INTO as SQL text: USING view or subquery, upsert + the
    tombstone DELETE clause, composing with time travel; the restricted
    contract (ON must equate the merge key; both upsert clauses
    required) is validated with actionable errors."""
    eng = Engine(spark)
    t = eng.create_acid_table(
        "mi", str(tmp_path / "mi"), key="k", order_col="seq",
        files_per_commit=2,
    )
    t.append(
        spark.createDataFrame(
            [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")],
            "k long, seq long, v string",
        )
    )
    eng.refresh_acid_table("mi")
    spark.createDataFrame(
        [(2, 2, "B", False), (4, 2, "d", False), (3, 2, None, True)],
        "k long, seq long, v string, dead boolean",
    ).createOrReplaceTempView("mi_src")

    v = eng.sql(
        """MERGE INTO mi USING mi_src AS s ON mi.k = s.k
           WHEN MATCHED AND s.dead THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *"""
    ).first().version
    assert v == t.latest_version()
    got = {r.k: r.v for r in eng.sql("SELECT k, v FROM mi").collect()}
    assert got == {1: "a", 2: "B", 4: "d"}  # 3 deleted, 2 updated, 4 inserted

    # subquery source + time travel: merge version-0 rows back in
    eng.sql(
        """MERGE INTO mi USING (
             SELECT k, 3 AS seq, v, false AS dead
             FROM mi VERSION AS OF 0 WHERE k = 3
           ) old ON old.k = mi.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *"""
    )
    assert eng.sql(
        "SELECT v FROM mi WHERE k = 3"
    ).first()["v"] == "c"

    with pytest.raises(ValueError, match="merge\\s+key|merge key"):
        eng.sql(
            "MERGE INTO mi USING mi_src s ON mi.v = s.v "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    with pytest.raises(ValueError, match="required"):
        eng.sql(
            "MERGE INTO mi USING mi_src s ON mi.k = s.k "
            "WHEN MATCHED THEN UPDATE SET *"
        )
    with pytest.raises(ValueError, match="unsupported MERGE clause"):
        eng.sql(
            "MERGE INTO mi USING mi_src s ON mi.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = 'x' "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_alter_table_add_columns_schema_evolution(spark, tmp_path):
    """ALTER TABLE ADD COLUMNS is the explicit SQL schema-evolution
    path (the INSERT column-list guard forbids typo-widening): one
    data-free O(log) commit widens the schema, existing rows read the
    new column as NULL, and duplicates/unknown tables error cleanly."""
    eng = Engine(spark)
    t = eng.create_acid_table(
        "evo", str(tmp_path / "evo"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    eng.refresh_acid_table("evo")
    pre_files = t.file_count()
    v = eng.sql("ALTER TABLE evo ADD COLUMNS (y DOUBLE, tag STRING)").first().version
    assert v == t.latest_version()
    assert t.file_count() == pre_files  # data-free: no rewrite
    row = eng.sql("SELECT k, v, y, tag FROM evo").first()
    assert (row.k, row.v, row.y, row.tag) == (1, "a", None, None)
    eng.sql("INSERT INTO evo (k, seq, y) VALUES (2, 1, 4.5)")
    got = {r.k: (r.v, r.y) for r in eng.sql("SELECT k, v, y FROM evo").collect()}
    assert got == {1: ("a", None), 2: (None, 4.5)}
    with pytest.raises(ValueError, match="already exist"):
        eng.sql("ALTER TABLE evo ADD COLUMNS (y DOUBLE)")


def test_sql_show_and_print_statements(spark, sf_dir):
    """The reference CLI's inspection statements as SQL text: SHOW
    STREAMS / SHOW CONNECTORS / SHOW QUERIES and PRINT 'name' [FROM
    BEGINNING] [LIMIT n] (reference: README.md:71,73,181,297). SHOW
    TABLES / DESCRIBE stay native Spark SQL over the same views."""
    eng = Engine(spark)
    eng.create_stream("show_ev", load_table(spark, sf_dir, "events"))
    eng.create_connector("show_sink", "sink", {"topics": "show_ev"})
    assert [r.name for r in eng.sql("SHOW STREAMS").collect()] == ["show_ev"]
    rows = eng.sql("SHOW CONNECTORS").collect()
    assert [(r.name, r.kind) for r in rows] == [("show_sink", "sink")]
    assert eng.sql("SHOW QUERIES").count() == 0
    assert eng.sql("PRINT 'show_ev' FROM BEGINNING LIMIT 3").count() == 3
    assert eng.sql("PRINT 'show_ev'").count() == 5
    # native Spark SHOW TABLES still sees the registered view
    assert "show_ev" in {
        r.tableName for r in eng.sql("SHOW TABLES").collect()
    }
    with pytest.raises(KeyError):
        eng.sql("PRINT 'nope'")


def test_window_rewrite_subqueries_ordinals_and_inheritance(spark, sf_dir):
    """Review regressions for the WINDOW rewrite: (a) the window
    expression lands in the OUTER GROUP BY, never a subquery's; (b)
    windowstart/windowend are APPENDED so GROUP BY ordinals keep
    resolving to the user's select list; (c) the event-time column
    inherits through chained derivations like ksqlDB's timestamp."""
    eng = Engine(spark)
    eng.sql(
        f"""CREATE STREAM WRX (event_id BIGINT, ts TIMESTAMP,
                event_type STRING, user_id BIGINT)
            WITH (path='{sf_dir}/events.parquet', format='parquet',
                  timestamp='ts')"""
    )
    # (c) chained CSAS without a repeated WITH still knows its event time
    eng.sql(
        "CREATE STREAM WRX_LIVE AS SELECT event_id, ts, event_type "
        "FROM WRX WHERE event_type IS NOT NULL"
    )
    # (b) GROUP BY ordinal 1 must still mean event_type
    got = {
        (r.event_type, r.windowstart, r.n)
        for r in eng.sql(
            """CREATE TABLE WRX_15M AS
               SELECT event_type, count(*) AS n FROM WRX_LIVE
               WINDOW TUMBLING (SIZE 15 MINUTE)
               GROUP BY 1"""
        ).select("event_type", "windowstart", "n").collect()
    }
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    want = {
        (r.event_type, r.w.start, r.n)
        for r in events.groupBy(
            F.window("ts", "15 minutes").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and got
    # columns: the user's select list leads; the bounds are appended
    cols = eng._tables["WRX_15M"].columns
    assert cols[0] == "event_type" and cols[1] == "n"
    assert {"windowstart", "windowend"} <= set(cols)
    # (a) an aggregating subquery in FROM keeps its own GROUP BY
    got_sub = {
        (r.windowstart, r.n)
        for r in eng.sql(
            """CREATE TABLE WRX_SUB AS
               SELECT count(*) AS n
               FROM (SELECT ts, event_type FROM WRX_LIVE
                     WHERE event_type IN (SELECT event_type FROM WRX_LIVE
                                          GROUP BY event_type))
               WINDOW TUMBLING (SIZE 60 MINUTE)
               GROUP BY 1 + 0"""
        ).select("windowstart", "n").collect()
    }
    want_sub = {
        (r.w.start, r.n)
        for r in events.groupBy(
            F.window("ts", "60 minutes").alias("w")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got_sub == want_sub and got_sub


def test_sql_identifier_resolution_is_case_insensitive(spark, tmp_path):
    """Spark resolves identifiers case-insensitively; the routed SQL
    guards must agree: upper-cased INSERT column lists and MERGE ON
    keys are legal, and ADD COLUMNS refuses a case-variant duplicate
    instead of bricking the table with an ambiguous pair."""
    eng = Engine(spark)
    t = eng.create_acid_table(
        "ci", str(tmp_path / "ci"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(spark.createDataFrame([(1, 1, "a")], "k long, seq long, v string"))
    eng.refresh_acid_table("ci")
    eng.sql("INSERT INTO ci (K, SEQ, V) VALUES (2, 1, 'b')")
    assert set(t.read().columns) == {"k", "seq", "v"}
    spark.createDataFrame(
        [(2, 2, "B2")], "K long, SEQ long, V string"
    ).createOrReplaceTempView("ci_src")
    eng.sql(
        "MERGE INTO ci USING ci_src s ON ci.K = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert set(t.read().columns) == {"k", "seq", "v"}
    assert {r.k: r.v for r in eng.sql("SELECT k, v FROM ci").collect()} == {
        1: "a", 2: "B2",
    }
    with pytest.raises(ValueError, match="already exist"):
        eng.sql("ALTER TABLE ci ADD COLUMNS (V DOUBLE)")


def test_merge_expression_tombstone_never_pollutes_schema(spark, tmp_path):
    """A tombstone condition spelled as an EXPRESSION over a flag column
    ('s.gone = true') is the same control metadata as the bare-column
    shape: the flag must never land as table data or widen the recorded
    schema."""
    eng = Engine(spark)
    t = eng.create_acid_table(
        "met", str(tmp_path / "met"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(spark.createDataFrame([(1, 1, 10.0), (2, 1, 20.0)],
                                   "k long, seq long, x double"))
    eng.refresh_acid_table("met")
    spark.createDataFrame(
        [(2, 2, 21.0, True), (3, 2, 30.0, False)],
        "k long, seq long, x double, gone boolean",
    ).createOrReplaceTempView("met_src")
    eng.sql(
        "MERGE INTO met USING met_src s ON met.k = s.k "
        "WHEN MATCHED AND s.gone = true THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert set(t.read().columns) == {"k", "seq", "x"}
    assert {r.k: r.x for r in eng.sql("SELECT k, x FROM met").collect()} == {
        1: 10.0, 3: 30.0,
    }


def test_source_declaration_parses_generic_column_types(spark):
    """MAP/ARRAY generics carry commas — the column-list split must not
    break inside MAP<STRING, INT>."""
    eng = Engine(spark)
    df = eng.sql(
        """CREATE STREAM GEN (k BIGINT, m MAP<STRING, INT>,
               a ARRAY<DOUBLE>, d DECIMAL(10,2))
           WITH (kafka_topic='gen')"""
    )
    assert [f.name for f in df.schema.fields] == ["k", "m", "a", "d"]
    assert df.schema["m"].dataType.simpleString() == "map<string,int>"
    assert df.schema["a"].dataType.simpleString() == "array<double>"


def test_merge_sql_rejects_update_before_conditional_delete(spark, tmp_path):
    """Delta applies the FIRST matching clause, so UPDATE SET * written
    before a conditional DELETE makes the DELETE dead code there — while
    this merge is delete-wins regardless of order. The one ordering where
    the semantics diverge must be rejected, not silently delete-wins."""
    eng = Engine(spark)
    t = eng.create_acid_table(
        "mord", str(tmp_path / "mord"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(spark.createDataFrame([(1, 1, 10.0)], "k long, seq long, x double"))
    eng.refresh_acid_table("mord")
    spark.createDataFrame(
        [(1, 2, 11.0, True)], "k long, seq long, x double, dead boolean"
    ).createOrReplaceTempView("mord_src")
    with pytest.raises(ValueError, match="must precede"):
        eng.sql(
            "MERGE INTO mord USING mord_src s ON mord.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN MATCHED AND s.dead THEN DELETE "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    # the documented order still works
    eng.sql(
        "MERGE INTO mord USING mord_src s ON mord.k = s.k "
        "WHEN MATCHED AND s.dead THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert eng.sql("SELECT k FROM mord").collect() == []


def test_merge_sql_alias_strip_is_quote_aware(spark, tmp_path):
    """A string literal spelling the source alias prefix ('s.tomb') must
    survive alias stripping in the delete condition — only identifier
    uses of the alias are rewritten."""
    eng = Engine(spark)
    t = eng.create_acid_table(
        "mqa", str(tmp_path / "mqa"), key="k", order_col="seq",
        files_per_commit=1,
    )
    t.append(spark.createDataFrame(
        [(1, 1, "live"), (2, 1, "live")], "k long, seq long, note string"
    ))
    eng.refresh_acid_table("mqa")
    spark.createDataFrame(
        [(1, 2, "s.tomb"), (2, 2, "keep")], "k long, seq long, note string"
    ).createOrReplaceTempView("mqa_src")
    eng.sql(
        "MERGE INTO mqa USING mqa_src s ON mqa.k = s.k "
        "WHEN MATCHED AND s.note = 's.tomb' THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.k: r.note for r in eng.sql("SELECT k, note FROM mqa").collect()}
    assert got == {2: "keep"}


def test_vanilla_spark_ctas_passes_through(spark, tmp_path):
    """CREATE TABLE ... AS SELECT with no ksqlDB marker is vanilla Spark
    catalog CTAS and must reach spark.sql untouched — only marked
    statements (EMIT CHANGES / WITH props / PARTITION BY / ksql WINDOW /
    engine-registered FROM source) divert to the registry route."""
    eng = Engine(spark)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS vctas LOCATION '{tmp_path}/db'")
    try:
        eng.sql(
            "CREATE TABLE vctas.plain AS SELECT 1 AS k, 'a' AS v"
        )
        # landed in the Spark catalog, NOT the engine registry
        assert spark.table("vctas.plain").count() == 1
        assert "vctas.plain" not in eng.show_tables()
        assert "plain" not in eng.show_tables()
        # a marked statement (registered FROM source) still routes to the
        # engine registry, not the catalog
        eng.create_stream("VSRC", spark.createDataFrame([(1,)], "k long"))
        eng.sql("CREATE TABLE VDERIVED AS SELECT k FROM VSRC")
        assert "VDERIVED" in eng.show_tables()
    finally:
        spark.sql("DROP DATABASE IF EXISTS vctas CASCADE")


def test_registered_name_as_column_does_not_divert_ctas(spark, tmp_path):
    """Only FROM/JOIN source position counts as the registered-name
    marker: a registered stream named like a column must not pull a
    vanilla catalog CTAS into the registry route."""
    eng = Engine(spark)
    eng.create_stream("value", spark.createDataFrame([(1,)], "k long"))
    spark.createDataFrame([(1, 2.0)], "k long, value double"
                          ).createOrReplaceTempView("plain_rep_src")
    try:
        eng.sql("CREATE TABLE rep_plain AS SELECT value FROM plain_rep_src")
        assert spark.table("rep_plain").count() == 1
        assert "rep_plain" not in eng.show_tables()
        # but FROM the registered name still routes to the registry
        eng.sql("CREATE TABLE REPDERIV AS SELECT k FROM value")
        assert "REPDERIV" in eng.show_tables()
    finally:
        spark.sql("DROP TABLE IF EXISTS rep_plain")


def test_quoted_registered_name_in_from_diverts_ctas(spark):
    """r13 ADVICE: a backtick- or double-quoted registered name in FROM
    position is the same engine-managed source and must route the CTAS
    to the engine registry — while the name spelled inside a string
    LITERAL stays data and must not divert."""
    eng = Engine(spark)
    eng.create_stream("QSRC", spark.createDataFrame([(7,)], "k long"))
    eng.sql("CREATE TABLE QDERIV_BT AS SELECT k FROM `QSRC`")
    assert "QDERIV_BT" in eng.show_tables()
    eng.sql('CREATE TABLE QDERIV_DQ AS SELECT k FROM "QSRC"')
    assert "QDERIV_DQ" in eng.show_tables()
    # literal spelling of the name is data, not a source marker
    try:
        eng.sql(
            "CREATE TABLE qderiv_lit AS SELECT 'x FROM QSRC y' AS note"
        )
        assert "qderiv_lit" not in eng.show_tables()
        assert spark.table("qderiv_lit").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS qderiv_lit")
