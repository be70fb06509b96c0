"""JDBC writer unit tests (W3/W5 + write-mode dispatch). No live database:
tests stop at the option map / rendered SQL / prepared frame — the points
where Spark's JDBC writer takes over."""

import pytest

from as_etl_storage_spark.spec import WriterSpec
from as_etl_storage_spark.writers.jdbc import JdbcWriter
from as_etl_storage_spark.writers.writer import WriterError


def _writer(spark, dialect="mysql", **spec_kw):
    spec = WriterSpec.from_json(
        {
            "connection": {
                "url": "jdbc:mysql://db:3306/main",
                "table": {"schema": "main", "name": "orders"},
            },
            **spec_kw,
        }
    )
    return JdbcWriter(spark, spec, dialect, user="u", password="p")


def test_write_options_w5_knobs(spark):
    # batchsize = reference batchSize default 1000 (writer/config.go:21);
    # isolationLevel encodes the {tx, no-tx} exec-mode axis (db.go:203-236)
    opts = _writer(spark).write_options()
    assert opts["dbtable"] == "`main`.`orders`"
    assert opts["batchsize"] == "1000"
    assert opts["isolationLevel"] == "READ_COMMITTED"
    assert opts["truncate"] == "true"


def test_batch_size_flows_from_spec(spark):
    opts = _writer(spark, batchSize=5000).write_options()
    assert opts["batchsize"] == "5000"


def test_non_transactional_maps_to_none(spark):
    w = _writer(spark)
    w.transactional = False
    assert w.write_options()["isolationLevel"] == "NONE"


def test_save_mode_dispatch(spark):
    # db.go:380-396: insert/overwrite/ignore map to Spark save modes
    assert _writer(spark, writeMode="insert").save_mode() == "append"
    assert _writer(spark, writeMode="overwrite").save_mode() == "overwrite"
    assert _writer(spark, writeMode="ignore").save_mode() == "ignore"


def test_replace_mysql_only(spark):
    # mysql registers a replace exec mode (mysql/table.go:62-85); oracle
    # does not (oracle/table.go:62-69) and must fail like the reference's
    # "ExecParam is not exist" error
    w = _writer(spark, writeMode="replace", mergeKeys=["o_orderkey"])
    assert w.save_mode() == "append"  # staging-table path
    wo = _writer(spark, "oracle", writeMode="replace", mergeKeys=["o_orderkey"])
    with pytest.raises(WriterError, match="replace"):
        wo.save_mode()


def test_mysql_replace_sql_rendering(spark):
    # mysql/table.go:99-130: replace into `t`(cols) values(?,...),(?,...)
    w = _writer(spark, writeMode="replace", mergeKeys=["o_orderkey"])
    sql = w.replace_sql(["o_orderkey", "o_status"], n_rows=2)
    assert sql == (
        "replace into `main`.`orders`(`o_orderkey`,`o_status`) "
        "values(?,?),(?,?)"
    )


def test_oracle_insert_sql_positional_binds(spark):
    # oracle/table.go:94-117 + field.go:55: positional :N binds
    w = _writer(spark, "oracle")
    sql = w.insert_sql(["a", "b"], n_rows=2)
    assert sql == 'insert into "main"."orders"("a","b") values(:1,:2),(:3,:4)'


def test_prepare_frame_applies_dialect_and_pool_cap(spark):
    # oracle write coercion stringifies (P8) and the pool cap bounds the
    # number of concurrent connections = partitions (C2)
    df = spark.range(100).repartition(16).selectExpr(
        "id", "CAST(id AS DOUBLE) AS d", "id % 2 = 0 AS b"
    )
    w = _writer(spark, "oracle")
    out = w.prepare_frame(df)
    assert dict(out.dtypes) == {"id": "string", "d": "string", "b": "string"}
    assert out.rdd.getNumPartitions() <= 4  # pool.maxOpenConns default


def test_prepare_frame_mysql_keeps_types(spark):
    df = spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS d")
    out = _writer(spark).prepare_frame(df)
    assert dict(out.dtypes) == {"id": "bigint", "d": "double"}


def test_column_projection(spark):
    df = spark.range(10).selectExpr("id", "id * 2 AS x", "id * 3 AS y")
    w = _writer(spark, column=["id", "x"])
    assert _writer(spark, column=["id", "x"]).prepare_frame(df).columns == [
        "id",
        "x",
    ]
    assert w.prepare_frame(df).columns == ["id", "x"]


def test_job_spec_roundtrip_to_jdbc_writer(spark):
    # a reader->JDBC-writer job parses end-to-end; dispatch picks JdbcWriter
    from as_etl_storage_spark.spec import JobSpec

    spec = JobSpec.from_json(
        {
            "reader": {
                "connection": {
                    "url": "/root/testdata/sf0.001",
                    "table": {"name": "orders"},
                },
                "column": ["o_orderkey", "o_orderstatus"],
            },
            "writer": {
                "dialect": "mysql",
                "connection": {
                    "url": "jdbc:mysql://db:3306/main",
                    "table": {"name": "orders_out"},
                },
                "writeMode": "insert",
                "batchSize": 2000,
            },
        }
    )
    assert spec.writer.dialect == "mysql"
    w = JdbcWriter(spark, spec.writer, spec.writer.dialect)
    assert w.write_options()["batchsize"] == "2000"
    assert w.qualified_table() == "`orders_out`"


def test_runner_rejects_unknown_but_accepts_jdbc_dialects():
    # dispatch surface: ONE shared factory (writers.writer.make_writer)
    # routes mysql/oracle/derby to JdbcWriter for BOTH run_job and
    # Engine.write — hand-rolled copies had diverged (engine lacked derby)
    import inspect

    import pytest

    from as_etl_storage_spark import engine, runner
    from as_etl_storage_spark.spec import ConnectionSpec, TableRef, WriterSpec
    from as_etl_storage_spark.writers.writer import WriterError, make_writer

    for mod in (runner.run_job, engine.Engine.write):
        assert "make_writer" in inspect.getsource(mod)
    src = inspect.getsource(make_writer)
    assert "mysql" in src and "oracle" in src and "derby" in src
    bad = WriterSpec(
        dialect="sqlite",
        connection=ConnectionSpec(url="/x", table=TableRef(name="t")),
    )
    with pytest.raises(WriterError, match="unsupported writer dialect"):
        make_writer(None, bad)


# --- live execution via embedded Derby -------------------------------------
# The mysql/oracle dialects stop at option maps (no server in this env);
# Derby is on Spark's classpath and runs the SAME save()/load()/merge code
# for real (db.go:203-236, dbms/writer/batch_writer.go:159-261 execution
# parity). One in-memory database per test keeps them independent.
import uuid

from as_etl_storage_spark.sources.jdbc import JdbcSource


def _derby_writer(spark, table, **spec_kw):
    url = f"jdbc:derby:memory:t_{uuid.uuid4().hex[:10]};create=true"
    spec = WriterSpec.from_json(
        {"connection": {"url": url, "table": {"name": table}}, **spec_kw}
    )
    return JdbcWriter(spark, spec, "derby")


def test_derby_live_append_roundtrip(spark):
    df = spark.range(0, 500).selectExpr(
        "id AS k", "concat('v_', id % 5) AS s", "CAST(id * 1.5 AS DOUBLE) AS v"
    )
    w = _derby_writer(spark, "t1", writeMode="insert")
    w.write(df)
    w.write(df)  # second append doubles
    back = JdbcSource(spark, w.spec.connection, dialect="derby").read()
    assert back.count() == 1000
    # string columns round-trip as comparable VARCHAR, not CLOB
    assert back.where("s = 'v_3'").count() == 200


def test_derby_live_overwrite_truncates(spark):
    df = spark.range(0, 100).selectExpr("id AS k")
    w = _derby_writer(spark, "t2", writeMode="insert")
    w.write(df)
    ow = JdbcWriter(spark, WriterSpec.from_json(
        {"connection": {"url": w.spec.connection.url,
                        "table": {"name": "t2"}},
         "writeMode": "overwrite"}), "derby")
    ow.write(df.limit(7))
    back = JdbcSource(spark, w.spec.connection, dialect="derby").read()
    assert back.count() == 7


def test_derby_live_replace_merges_not_appends(spark):
    # the round-4 latent bug: replace mode must upsert, never plain-append
    base = spark.range(0, 300).selectExpr(
        "id AS k", "concat('s_', id % 3) AS s"
    )
    w = _derby_writer(spark, "t3", writeMode="insert")
    w.write(base)
    up = JdbcWriter(spark, WriterSpec.from_json(
        {"connection": {"url": w.spec.connection.url,
                        "table": {"name": "t3"}},
         "writeMode": "replace", "mergeKeys": ["k"]}), "derby")
    batch = spark.range(200, 400).selectExpr("id AS k", "'X' AS s")
    up.write(batch)
    back = JdbcSource(spark, w.spec.connection, dialect="derby").read()
    assert back.count() == 400  # 0..399, no duplicate keys
    assert back.where("s = 'X'").count() == 200
    assert back.where("k < 200 AND s = 'X'").count() == 0
    # staging table dropped after the merge
    with pytest.raises(Exception):
        JdbcSource(
            spark, up.spec.connection, dialect="derby"
        ).spark.read.format("jdbc").option(
            "url", up.spec.connection.url
        ).option("driver", "org.apache.derby.jdbc.EmbeddedDriver").option(
            "dbtable", '"t3__stage"'
        ).load().count()


def test_derby_replace_requires_merge_keys(spark):
    # guarded at spec-parse time (writer/config.go validation parity);
    # the writer's own merge_statements guard backs it up for direct use
    from as_etl_storage_spark.spec import SpecError

    with pytest.raises(SpecError, match="mergeKeys"):
        _derby_writer(spark, "t4", writeMode="replace")
    w = _derby_writer(spark, "t4", writeMode="replace", mergeKeys=["k"])
    object.__setattr__(w.spec, "merge_keys", ())
    with pytest.raises(WriterError, match="mergeKeys"):
        w.merge_statements(["k"])


def test_derby_pre_post_sql_execute_on_database(spark):
    # W9 hooks run over the live connection: postSQL deletes a slice
    w = _derby_writer(spark, "t5", writeMode="insert",
                      postSQL=['delete from "t5" where "k" < 10'])
    df = spark.range(0, 50).selectExpr("id AS k")
    w.write(df)
    back = JdbcSource(spark, w.spec.connection, dialect="derby").read()
    assert back.count() == 40


def test_derby_merge_statements_rendering(spark):
    w = _derby_writer(spark, "t6", writeMode="replace", mergeKeys=["k"])
    stmts = w.merge_statements(["k", "s"])
    assert stmts == [
        'delete from "t6" where exists '
        '(select 1 from "t6__stage" where "t6__stage"."k" = "t6"."k")',
        'insert into "t6"("k","s") select "k","s" from "t6__stage"',
    ]


def test_mysql_merge_statement_is_replace_into(spark):
    w = _writer(spark, writeMode="replace", mergeKeys=["o_orderkey"])
    stmts = w.merge_statements(["o_orderkey", "s"])
    assert stmts == [
        "replace into `main`.`orders`(`o_orderkey`,`s`) "
        "select `o_orderkey`,`s` from `main`.`orders__stage`"
    ]


def test_with_retry_raises_semantic_errors_retries_transient(monkeypatch):
    # the one job-level retry both writers share: an analysis error is
    # raised on the first call; a transient error is retried with backoff
    import time

    from pyspark.errors import AnalysisException

    from as_etl_storage_spark.writers.writer import with_retry

    sleeps: list[float] = []
    monkeypatch.setattr(time, "sleep", sleeps.append)
    calls: list[str] = []

    def failing(exc):
        def fn():
            calls.append(type(exc).__name__)
            raise exc

        return fn

    with pytest.raises(AnalysisException):
        with_retry(failing(AnalysisException("no such column")), "w", 3)
    assert calls == ["AnalysisException"] and sleeps == []

    calls.clear()
    with pytest.raises(WriterError, match="w failed after retries"):
        with_retry(failing(OSError("disk")), "w", 3)
    assert calls == ["OSError"] * 3
    assert sleeps == [0.1, 0.2, 0.4]
    assert with_retry(lambda: 7, "w", 3) == 7
