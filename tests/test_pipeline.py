"""End-to-end pipeline tests on the sf0.001 fixtures (SURVEY.md §5 items 2-3):
read plan vs DuckDB oracle, split-union exactness, writer mode semantics."""

from __future__ import annotations

import os

import duckdb
import pytest

from as_etl_storage_spark.plans.planner import (
    plan_read,
    plan_split_predicates,
    plan_split_union,
)
from as_etl_storage_spark.runner import run_job
from as_etl_storage_spark.spec import JobSpec, ReaderSpec

SF = "/root/testdata/sf0.001"


def reader_spec(**over) -> ReaderSpec:
    base = {
        "connection": {"url": SF, "table": {"name": "lineitem"}},
        "column": ["*"],
    }
    base.update(over)
    return ReaderSpec.from_json(base)


def duck(sql: str) -> list[tuple]:
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con.sql(sql).fetchall()


class TestPlanRead:
    def test_project_filter_matches_oracle(self, spark):
        # minimum slice (SURVEY.md §7): S1/P1/P2
        r = reader_spec(
            column=["l_orderkey", "l_quantity", "l_extendedprice"],
            where="l_quantity > 40",
        )
        df = plan_read(spark, r)
        got = df.count()
        want = duck(
            "SELECT count(*) FROM lineitem WHERE l_quantity > 40"
        )[0][0]
        assert got == want
        assert df.columns == ["l_orderkey", "l_quantity", "l_extendedprice"]

    def test_query_sql_mode(self, spark):
        r = ReaderSpec.from_json(
            {
                "connection": {"url": SF},
                "querySql": [
                    "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
                ],
            }
        )
        df = plan_read(spark, r)
        got = {row["l_returnflag"]: row["n"] for row in df.collect()}
        want = dict(
            duck(
                "SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag"
            )
        )
        assert got == want


class TestSplit:
    def test_bigint_split_union_is_exact(self, spark):
        r = reader_spec(split={"key": "l_orderkey", "range": {"type": "bigint"}})
        union = plan_split_union(spark, r, 5)
        full = plan_read(spark, r)
        assert union.count() == full.count()

    def test_split_with_where_conjunction(self, spark):
        # where AND-ed into every task predicate (reader/job.go:179-181)
        r = reader_spec(
            where="l_quantity > 25",
            split={"key": "l_orderkey", "range": {"type": "bigint"}},
        )
        preds = plan_split_predicates(spark, r, 4)
        assert len(preds) == 4
        assert all("l_quantity > 25" in p for p in preds)
        union = plan_split_union(spark, r, 4)
        want = duck(
            "SELECT count(*) FROM lineitem WHERE l_quantity > 25"
        )[0][0]
        assert union.count() == want

    def test_time_split(self, spark):
        r = reader_spec(
            split={
                "key": "l_shipdate",
                "timeAccuracy": "day",
                "range": {"type": "time"},
            }
        )
        union = plan_split_union(spark, r, 6)
        assert union.count() == plan_read(spark, r).count()

    def test_declared_range_skips_minmax(self, spark):
        # S13 pre-declared bounds
        r = reader_spec(
            split={
                "key": "l_orderkey",
                "range": {"type": "bigint", "left": "1", "right": "6000"},
            }
        )
        preds = plan_split_predicates(spark, r, 3)
        assert preds[0].startswith("l_orderkey >= 1 ")
        assert preds[-1].endswith("<= 6000")

    def test_type_mismatch_rejected(self, spark):
        from as_etl_storage_spark.plans.split import SplitError

        r = reader_spec(
            split={"key": "l_shipdate", "range": {"type": "bigint"}}
        )
        with pytest.raises(SplitError):
            plan_split_predicates(spark, r, 2)


class TestWriter:
    def _job(self, tmp, mode="insert", **writer_over):
        writer = {
            "connection": {"url": str(tmp), "table": {"name": "out"}},
            "writeMode": mode,
        }
        writer.update(writer_over)
        return {
            "reader": {
                "connection": {"url": SF, "table": {"name": "orders"}},
                "column": ["*"],
            },
            "writer": writer,
        }

    def test_insert_append(self, spark, tmp_path):
        res = run_job(spark, self._job(tmp_path))
        n = duck("SELECT count(*) FROM orders")[0][0]
        assert res.written == n
        res2 = run_job(spark, self._job(tmp_path))
        assert res2.written == n  # written = THIS job's rows, not the target
        assert spark.read.parquet(res2.target_path).count() == 2 * n

    def test_overwrite(self, spark, tmp_path):
        run_job(spark, self._job(tmp_path))
        res = run_job(spark, self._job(tmp_path, mode="overwrite"))
        n = duck("SELECT count(*) FROM orders")[0][0]
        assert res.written == n

    def test_replace_merge(self, spark, tmp_path):
        run_job(spark, self._job(tmp_path))
        n = duck("SELECT count(*) FROM orders")[0][0]
        # second run upserts the same keys -> row count unchanged
        res = run_job(
            spark, self._job(tmp_path, mode="replace", mergeKeys=["o_orderkey"])
        )
        assert res.written == n

    def test_replace_updates_values(self, spark, tmp_path):
        run_job(spark, self._job(tmp_path))
        # modify a slice and upsert it back
        job = self._job(tmp_path, mode="replace", mergeKeys=["o_orderkey"])
        job["reader"]["querySql"] = [
            "SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice, "
            "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey <= 100"
        ]
        del job["reader"]["column"]
        del job["reader"]["connection"]["table"]
        run_job(spark, job)
        out = spark.read.parquet(os.path.join(tmp_path, "out.parquet"))
        changed = out.where("o_orderstatus = 'X'").count()
        want = duck(
            "SELECT count(*) FROM orders WHERE o_orderkey <= 100"
        )[0][0]
        assert changed == want

    def test_ignore_mode(self, spark, tmp_path):
        run_job(spark, self._job(tmp_path))
        n = duck("SELECT count(*) FROM orders")[0][0]
        res = run_job(
            spark, self._job(tmp_path, mode="ignore", mergeKeys=["o_orderkey"])
        )
        assert res.written == 0  # all duplicates skipped
        assert spark.read.parquet(res.target_path).count() == n

    def test_quarantine(self, spark, tmp_path):
        job = self._job(tmp_path, quarantinePredicate="o_totalprice > 0")
        res = run_job(spark, job)
        total = duck("SELECT count(*) FROM orders")[0][0]
        bad = duck(
            "SELECT count(*) FROM orders WHERE NOT (o_totalprice > 0)"
        )[0][0]
        assert res.written == total - bad
        assert res.rejected == bad

    def _jobs_of(self, spark, job) -> tuple:
        """(result, Spark jobs the run launched) — the job-group idiom."""
        import time

        sc = spark.sparkContext
        group = f"writer_jobs_{time.monotonic_ns()}"
        sc.setJobGroup(group, "run_job")
        try:
            res = run_job(spark, job)
        finally:
            sc.setJobGroup("", "")
        return res, sc.statusTracker().getJobIdsForGroup(group)

    @pytest.mark.parametrize("mode", ["insert", "overwrite"])
    def test_copy_job_is_one_spark_job(self, spark, tmp_path, mode):
        """The write job counts its own rows: no cache fill, no count job."""
        res, jobs = self._jobs_of(spark, self._job(tmp_path, mode=mode))
        assert res.written == duck("SELECT count(*) FROM orders")[0][0]
        assert len(jobs) == 1, f"{mode} launched {len(jobs)} jobs"

    @pytest.mark.parametrize(
        "mode,over",
        [
            ("insert", {}),
            ("overwrite", {}),
            ("replace", {"mergeKeys": ["o_orderkey"]}),
            ("ignore", {"mergeKeys": ["o_orderkey"]}),
            ("insert", {"quarantinePredicate": "o_totalprice > 100000"}),
        ],
    )
    def test_no_frame_left_persisted(self, spark, tmp_path, mode, over):
        def persisted():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        before = persisted()
        run_job(spark, self._job(tmp_path))
        run_job(spark, self._job(tmp_path, mode=mode, **over))
        assert persisted() == before

    @pytest.mark.parametrize("mode", ["insert", "overwrite"])
    def test_where_matching_nothing_writes_zero(self, spark, tmp_path, mode):
        job = self._job(tmp_path, mode=mode)
        job["reader"]["where"] = "o_totalprice < 0"
        res = run_job(spark, job)
        assert res.written == 0
        assert spark.read.parquet(res.target_path).count() == 0

    # "1 = 0" folds to false, and a false filter lets the optimizer drop
    # the plan below it
    @pytest.mark.parametrize("pred", ["o_totalprice < 0", "1 = 0"])
    def test_quarantine_rejects_every_row(self, spark, tmp_path, pred):
        res = run_job(spark, self._job(tmp_path, quarantinePredicate=pred))
        total = duck("SELECT count(*) FROM orders")[0][0]
        assert (res.written, res.rejected) == (0, total)
        assert spark.read.parquet(res.reject_path).count() == total

    def test_quarantine_rejects_no_row(self, spark, tmp_path):
        res = run_job(
            spark,
            self._job(tmp_path, quarantinePredicate="o_totalprice IS NOT NULL"),
        )
        total = duck("SELECT count(*) FROM orders")[0][0]
        assert (res.written, res.rejected) == (total, 0)
        assert not os.path.exists(res.reject_path)

    def test_retried_write_counts_its_own_attempt(self, spark, tmp_path, monkeypatch):
        """The first attempt reads one row, then fails: counts observed by
        it are partial, so each attempt must observe afresh."""
        from as_etl_storage_spark.writers.writer import ParquetWriter

        real = ParquetWriter._write_df
        calls = []

        def flaky(self, df, path, mode):
            calls.append(path)
            if len(calls) == 1:
                df.limit(1).collect()
                raise OSError("transient write failure")
            return real(self, df, path, mode)

        monkeypatch.setattr(ParquetWriter, "_write_df", flaky)
        res = run_job(
            spark, self._job(tmp_path, quarantinePredicate="o_totalprice > 100000")
        )
        bad = duck("SELECT count(*) FROM orders WHERE o_totalprice <= 100000")[0][0]
        total = duck("SELECT count(*) FROM orders")[0][0]
        assert len(calls) == 3  # failed attempt, retry, reject write
        assert (res.written, res.rejected) == (total - bad, bad)
        assert spark.read.parquet(res.target_path).count() == total - bad

    def test_schema_mismatch_fails(self, spark, tmp_path):
        from as_etl_storage_spark.writers.writer import WriterError

        run_job(spark, self._job(tmp_path))
        job = self._job(tmp_path)
        job["reader"]["column"] = ["o_orderkey", "o_custkey"]
        with pytest.raises(WriterError, match="schema mismatch"):
            run_job(spark, job)

    @pytest.mark.parametrize("versioned", [False, True])
    def test_replace_duplicate_batch_keys_rejected(
        self, spark, tmp_path, versioned
    ):
        from as_etl_storage_spark.writers.versioned import VersionedTableError
        from as_etl_storage_spark.writers.writer import WriterError

        run_job(spark, self._job(tmp_path, versioned=versioned))
        # incoming batch with duplicate merge keys (o_custkey repeats)
        job = self._job(
            tmp_path, mode="replace", mergeKeys=["o_custkey"],
            versioned=versioned,
        )
        err = VersionedTableError if versioned else WriterError
        with pytest.raises(err, match="duplicate merge keys"):
            run_job(spark, job)

    def test_schema_evolution_additive(self, spark, tmp_path):
        from as_etl_storage_spark.writers.writer import WriterError

        run_job(spark, self._job(tmp_path))
        # additive column without evolveSchema -> error
        job = self._job(tmp_path)
        job["reader"]["querySql"] = [
            "SELECT *, year(o_orderdate) AS o_year FROM orders"
        ]
        del job["reader"]["column"]
        del job["reader"]["connection"]["table"]
        with pytest.raises(WriterError, match="evolveSchema"):
            run_job(spark, job)
        # with evolveSchema: append succeeds; merged read shows nulls for
        # old files in the new column
        job["writer"]["evolveSchema"] = True
        run_job(spark, job)
        merged = spark.read.option("mergeSchema", "true").parquet(
            str(tmp_path / "out.parquet")
        )
        n = duck("SELECT count(*) FROM orders")[0][0]
        assert merged.count() == 2 * n
        assert merged.where("o_year IS NULL").count() == n
        # dropping columns is never allowed
        job2 = self._job(tmp_path, evolveSchema=True)
        job2["reader"]["column"] = ["o_orderkey"]
        with pytest.raises(WriterError, match="schema mismatch"):
            run_job(spark, job2)

    def test_schema_type_change_rejected(self, spark, tmp_path):
        """Same column names but a retyped column must fail even under
        evolveSchema — appending it would produce mixed-schema parquet
        files that break later reads."""
        from as_etl_storage_spark.writers.writer import WriterError

        run_job(spark, self._job(tmp_path))
        for evolve in (False, True):
            job = self._job(tmp_path, evolveSchema=evolve)
            job["reader"]["querySql"] = [
                "SELECT * EXCEPT (o_orderkey), "
                "CAST(o_orderkey AS STRING) AS o_orderkey FROM orders"
            ]
            del job["reader"]["column"]
            del job["reader"]["connection"]["table"]
            with pytest.raises(WriterError, match="type change"):
                run_job(spark, job)

    def test_ignore_mode_gates_schema(self, spark, tmp_path):
        """ignore APPENDS its fresh rows, so it must run the same W11
        schema gate as insert — a retyped column would otherwise write
        mixed-schema files silently."""
        from as_etl_storage_spark.writers.writer import WriterError

        run_job(spark, self._job(tmp_path))
        job = self._job(tmp_path, mode="ignore", mergeKeys=["o_orderkey"])
        job["reader"]["querySql"] = [
            "SELECT * EXCEPT (o_totalprice), "
            "CAST(o_totalprice AS STRING) AS o_totalprice FROM orders"
        ]
        del job["reader"]["column"]
        del job["reader"]["connection"]["table"]
        with pytest.raises(WriterError, match="type change"):
            run_job(spark, job)


class TestFileFormatWriters:
    def _job(self, tmp, dialect, mode="insert", **writer_over):
        writer = {
            "dialect": dialect,
            "connection": {"url": str(tmp), "table": {"name": "out"}},
            "writeMode": mode,
        }
        writer.update(writer_over)
        return {
            "reader": {
                "connection": {"url": SF, "table": {"name": "nation"}},
                "column": ["*"],
            },
            "writer": writer,
        }

    @pytest.mark.parametrize("dialect", ["csv", "json", "orc"])
    def test_roundtrip_append(self, spark, tmp_path, dialect):
        res = run_job(spark, self._job(tmp_path, dialect))
        n = duck("SELECT count(*) FROM nation")[0][0]
        assert res.written == n
        assert res.target_path.endswith(f"out.{dialect}")
        reader = spark.read.format(dialect)
        if dialect == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        back = reader.load(res.target_path)
        assert back.count() == n
        assert {c.lower() for c in back.columns} == {
            "n_nationkey", "n_name", "n_regionkey"
        }

    def test_csv_overwrite_then_replace(self, spark, tmp_path):
        run_job(spark, self._job(tmp_path, "csv"))
        res = run_job(
            spark,
            self._job(tmp_path, "csv", mode="replace", mergeKeys=["n_nationkey"]),
        )
        n = duck("SELECT count(*) FROM nation")[0][0]
        assert res.written == n
        back = (
            spark.read.format("csv")
            .option("header", "true")
            .option("inferSchema", "true")
            .load(res.target_path)
        )
        assert back.count() == n  # replaced, not doubled

    def test_unknown_writer_dialect_rejected(self, spark, tmp_path):
        from as_etl_storage_spark.writers.writer import WriterError

        with pytest.raises(WriterError, match="dialect"):
            run_job(spark, self._job(tmp_path, "avro"))

    def test_versioned_requires_parquet(self, spark, tmp_path):
        from as_etl_storage_spark.writers.writer import WriterError

        with pytest.raises(WriterError, match="parquet backend"):
            run_job(
                spark,
                self._job(tmp_path, "json", versioned=True),
            )


class TestSwapRecovery:
    def test_interrupted_swap_recovers_on_retry(self, spark, tmp_path):
        """Simulate a crash between the two renames of the staging swap:
        the target is missing, data sits at the deterministic backup path.
        The next replace must restore the backup and merge against it —
        not treat the table as empty (which would drop all kept rows)."""
        import os

        from as_etl_storage_spark.queries.common import load_table
        from as_etl_storage_spark.spec import WriterSpec
        from as_etl_storage_spark.writers.writer import ParquetWriter

        orders = load_table(spark, "/root/testdata/sf0.001", "orders")
        spec = WriterSpec.from_json(
            {
                "connection": {"url": str(tmp_path), "table": {"name": "t"}},
                "writeMode": "replace",
                "mergeKeys": ["o_orderkey"],
            }
        )
        writer = ParquetWriter(spark, spec)
        path = writer.target_path()
        writer._overwrite(orders, path)
        n = orders.count()
        # crash simulation: swap started (path -> backup) but never finished
        os.rename(path, f"{path}.__old__")
        batch = orders.where("o_orderkey <= 50")
        res = writer.write(batch)
        assert res.written == orders.where("o_orderkey <= 50").count()
        assert spark.read.parquet(path).count() == n  # kept rows survived
