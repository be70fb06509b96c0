"""Write modes — parity with the reference writer surface (SURVEY.md §2.6).

Mode mapping (write-mode dispatch parity: database/db.go:380-396, W4):

  insert    -> append            (multi-row INSERT, database/table.go:156-214)
  replace   -> MERGE-style upsert keyed on ``mergeKeys``
               (MySQL REPLACE INTO, database/mysql/table.go:100-146).
               Semantic note (SURVEY.md §7 hard-item 2): REPLACE
               deletes-then-inserts (unlisted columns reset); our merge
               replaces the *entire row* from the source when keys match, so
               for full-row sources the results agree; partial-column upsert
               would diverge and is rejected.
  overwrite -> truncate-and-load (the preSQL-truncate idiom, W9)
  ignore    -> insert only rows whose key set is absent from the target

Storage is parquet (Delta is unavailable in this environment); on a real
cluster the same interface binds to Delta where ``replace`` becomes
``MERGE INTO`` and writes are ACID. The parquet merge path here rewrites the
target via a staging directory + atomic rename, which is the correct
single-writer semantic and documents the multi-writer caveat.

Row-level error handling: the reference's one-by-one degradation
(database/dbms/writer/batch_writer.go:112-124, W8) is driver-hostile at
100 TB; it is replaced by vectorized validation — rows failing the
``quarantinePredicate`` are split into a reject table in one pass
(dead-letter pattern), everything else proceeds batched.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass
from functools import partialmethod

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from as_etl_storage_spark.spec import WriterSpec


@dataclass
class WriteResult:
    target_path: str
    written: int
    rejected: int = 0
    reject_path: str = ""


def check_unique_keys(df: DataFrame, keys, error: type) -> None:
    """Raise ``error`` when two rows of the replace batch ``df`` share
    ``keys``. MySQL REPLACE keeps the *last* row for duplicate keys
    within one batch; a DataFrame has no row order, so the result would
    be nondeterministic (same stance as Delta MERGE's multiple-matches
    error). Both replace sinks, file and versioned, run this check."""
    dup = df.groupBy(*keys).count().where(F.col("count") > 1).limit(1).collect()
    if dup:
        raise error(
            f"replace batch has duplicate merge keys (e.g. "
            f"{dict(zip(keys, [dup[0][k] for k in keys]))}); REPLACE "
            "order-dependence is undefined on an unordered DataFrame"
        )


class WriterError(RuntimeError):
    pass


def with_retry(fn, what: str, max_retries: int):
    """Job-level retry with exponential backoff (W7 parity,
    batch_writer.go:104-126), shared by the file and JDBC writers. Spark
    already retries failed *tasks* (spark.task.maxFailures); this guards
    whole-write failures (transient FS/connect errors, executor loss).
    Semantic errors — WriterError and AnalysisException — are raised at
    once: a retry cannot fix them. Writes are idempotent-safe to retry:
    an append can duplicate only if the failure hit after commit, and the
    staging paths (file replace/compact, JDBC replace merge) re-run from
    a reset staging area."""
    last = None
    for attempt in range(max(1, max_retries)):
        try:
            return fn()
        except (WriterError, AnalysisException):
            raise
        except Exception as exc:  # transient I/O / executor loss
            last = exc
            time.sleep(min(2.0**attempt * 0.1, 5.0))
    raise WriterError(f"{what} failed after retries: {last}") from last


class ParquetWriter:
    #: storage format; FileFormatWriter overrides (csv/json/orc) — all mode
    #: logic below goes through _read_target/_write_df so every mode works
    #: for every format
    fmt = "parquet"

    def __init__(self, spark: SparkSession, spec: WriterSpec):
        self.spark = spark
        self.spec = spec

    # -- paths ----------------------------------------------------------
    def target_path(self) -> str:
        return os.path.join(
            self.spec.connection.url,
            f"{self.spec.connection.table.name}.{self.fmt}",
        )

    def reject_path(self) -> str:
        return os.path.join(
            self.spec.connection.url,
            f"{self.spec.connection.table.name}_reject.{self.fmt}",
        )

    # -- raw I/O (format axis) -----------------------------------------
    def _read_target(self, path: str) -> DataFrame:
        reader = self.spark.read.format(self.fmt)
        if self.fmt == "csv":
            reader = reader.option("header", "true").option("inferSchema", "true")
        if self.fmt == "xml":
            reader = reader.option("rowTag", "row")
        return reader.load(path)

    def _write_df(self, df: DataFrame, path: str, mode: str) -> None:
        writer = df.write.mode(mode).format(self.fmt)
        if self.fmt == "csv":
            writer = writer.option("header", "true")
        if self.fmt == "xml":
            writer = writer.option("rowTag", "row").option("rootTag", "rows")
        if self.spec.partition_by:
            writer = writer.partitionBy(*self.spec.partition_by)
            if mode == "overwrite" and self.spec.dynamic_partition_overwrite:
                # replace only the partitions present in the batch — the
                # at-scale update path for date/source-partitioned tables
                # (full-table truncate would rewrite 100 TB to update a day)
                writer = writer.option("partitionOverwriteMode", "dynamic")
        writer.save(path)

    def _arrange(self, df: DataFrame) -> DataFrame:
        """Apply the spec's z-order clustering (layout.zorder_key) before
        any mode writes: files then carry tight min/max stats on every
        zorderBy column. Bounds come from one min/max aggregate."""
        if not self.spec.zorder_by:
            return df
        from pyspark.sql import functions as F

        from as_etl_storage_spark.writers.layout import zorder_key

        cols = list(self.spec.zorder_by)
        row = df.agg(
            *[f for c in cols for f in (F.min(c).alias(f"{c}__lo"),
                                        F.max(c).alias(f"{c}__hi"))]
        ).collect()[0]
        bounds = {c: (row[f"{c}__lo"], row[f"{c}__hi"]) for c in cols}
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        return (
            df.withColumn("__zkey", zorder_key(cols, bounds))
            .repartitionByRange(n, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )

    # -- hooks (W9) -----------------------------------------------------
    def run_pre_sql(self) -> None:
        for stmt in self.spec.pre_sql:
            self.spark.sql(stmt)

    def run_post_sql(self) -> None:
        for stmt in self.spec.post_sql:
            self.spark.sql(stmt)

    # -- schema compat (W11) -------------------------------------------
    def check_schema_compat(self, df: DataFrame) -> None:
        """Writer fetches target schema at init (writer/task.go:64-70) and
        fails fast on mismatch — no silent widening. With
        ``evolveSchema: true`` additive changes are allowed: new columns
        may appear (readers use mergeSchema; old files yield nulls), but
        dropping existing columns is still an error."""
        path = self.target_path()
        if not os.path.exists(path):
            return
        self._check_compat_schemas(self._read_target(path).schema, df.schema, path)

    def _check_compat_schemas(self, target, incoming, path: str) -> None:
        """Comparison core shared by the file path (target schema read
        from the target directory) and the versioned path (target schema
        from the latest committed version)."""
        t_names = [f.name for f in target.fields]
        i_names = [f.name for f in incoming.fields]
        # type changes on existing columns are never allowed — appending a
        # retyped column writes mixed-schema files that break later reads.
        # (csv/json/xml re-infer types on read, so a type comparison there
        # would flag benign re-inference, not a real change — name-only.)
        if self.fmt in ("parquet", "orc"):
            t_types = {f.name: f.dataType.simpleString() for f in target.fields}
            i_types = {f.name: f.dataType.simpleString() for f in incoming.fields}
            changed = {
                n: (t_types[n], i_types[n])
                for n in t_types.keys() & i_types.keys()
                if t_types[n] != i_types[n]
            }
            if changed:
                raise WriterError(
                    f"schema mismatch writing {path}: column type changes "
                    f"{changed} (evolveSchema only permits *additive* columns)"
                )
        if sorted(t_names) == sorted(i_names):
            return
        if self.spec.evolve_schema and set(t_names) <= set(i_names):
            return  # additive evolution
        raise WriterError(
            f"schema mismatch writing {path}: target columns {t_names}, "
            f"incoming {i_names}"
            + ("" if self.spec.evolve_schema else
               " (set evolveSchema for additive changes)")
        )

    # -- quarantine (W8 upgrade) ---------------------------------------
    def _reject_pred(self) -> str:
        pred = self.spec.quarantine_predicate
        return f"NOT ({pred}) OR ({pred}) IS NULL"

    def split_quarantine(self, df: DataFrame) -> tuple[DataFrame, Observation | None]:
        """Clean rows plus an Observation counting the rejects in the first
        job over the clean rows, which reads every source row. The filter
        reads a flag set below the observed node, so a predicate that folds
        to false cannot prune the node."""
        if not self.spec.quarantine_predicate:
            return df, None
        rejects = Observation()
        clean = (
            df.withColumn("__reject", F.expr(self._reject_pred()))
            .observe(rejects, F.count_if("__reject").alias("rows"))
            .where(~F.col("__reject"))
            .drop("__reject")
        )
        return clean, rejects

    # -- mode impls -----------------------------------------------------
    # each impl returns the rows written by THIS job, counted by an
    # Observation in the write job: counting the target afterwards would
    # scan the whole table, and cache + count + write reads the batch 3x
    def _write_counted(self, df: DataFrame, path: str, mode: str) -> int:
        rows = Observation()
        self._write_df(df.observe(rows, F.count(F.lit(1)).alias("rows")), path, mode)
        return int(rows.get["rows"])

    _append = partialmethod(_write_counted, mode="append")
    _overwrite = partialmethod(_write_counted, mode="overwrite")

    def _merge_replace(self, df: DataFrame, path: str) -> int:
        """REPLACE/upsert: target rows whose key matches an incoming row are
        replaced; others kept; new rows inserted. Equivalent Delta:
        MERGE ... whenMatchedUpdateAll whenNotMatchedInsertAll.

        Implementation is a left-anti join (kept oldies) union the incoming
        batch — one shuffle on the merge keys; at scale the incoming batch is
        typically small → Catalyst broadcasts it into the anti-join.
        """
        keys = list(self.spec.merge_keys)
        if not keys:
            raise WriterError("replace mode requires mergeKeys")
        self._recover_swap(path)
        if not os.path.exists(path):
            return self._overwrite(df, path)
        target = self._read_target(path)
        if set(target.columns) != set(df.columns):
            raise WriterError(
                "replace requires full-row sources (REPLACE resets unlisted "
                f"columns); target {target.columns} vs incoming {df.columns}"
            )
        incoming = df.select(*target.columns)  # align column order
        check_unique_keys(incoming, keys, WriterError)
        kept = target.join(incoming.select(*keys).distinct(), on=keys, how="left_anti")
        rows = Observation()
        merged = kept.unionByName(
            incoming.observe(rows, F.count(F.lit(1)).alias("rows"))
        )
        self._rewrite_atomic(merged, path)
        return int(rows.get["rows"])

    def _insert_ignore(self, df: DataFrame, path: str) -> int:
        """ignore mode: skip rows whose keys already exist in the target."""
        keys = list(self.spec.merge_keys) or df.columns
        self._recover_swap(path)
        if not os.path.exists(path):
            return self._overwrite(df, path)
        target = self._read_target(path)
        fresh = df.join(target.select(*keys).distinct(), on=keys, how="left_anti")
        return self._append(fresh, path)

    def _recover_swap(self, path: str) -> None:
        """Crash recovery for the staging swap: a failure between the two
        renames leaves the data at the deterministic backup path and no
        target — without this, a retry would mistake the merge for an
        initial load and overwrite the table with just the incoming batch."""
        backup = f"{path}.__old__"
        if not os.path.exists(path) and os.path.exists(backup):
            os.rename(backup, path)

    def _rewrite_atomic(self, df: DataFrame, path: str) -> None:
        """Materialize to a staging dir then swap — single-writer atomicity
        for the parquet backend (Delta MERGE on a real deployment). The
        backup path is deterministic so an interrupted swap is recoverable
        (see _recover_swap)."""
        staging = f"{path}.__staging__{uuid.uuid4().hex[:8]}"
        self._write_df(df, staging, "overwrite")
        backup = f"{path}.__old__"
        shutil.rmtree(backup, ignore_errors=True)
        os.rename(path, backup)
        os.rename(staging, path)
        shutil.rmtree(backup, ignore_errors=True)

    # -- entry ----------------------------------------------------------
    def write(self, df: DataFrame) -> WriteResult:
        self.run_pre_sql()
        if self.spec.keep_latest_by:
            # CDC-apply batch compression (keepLatestBy): keep only the
            # last image per mergeKeys group before merging — a change-
            # feed batch spanning several commits carries several images
            # of one key, which MERGE correctly refuses as ambiguous.
            # Runs BEFORE the column projection so the ordering column
            # may be a meta column (_commit_version) the projection then
            # drops. One window shuffle on the merge keys — the same
            # keys the merge itself shuffles on, so AQE/exchange reuse
            # can co-locate the two.
            from pyspark.sql import Window

            keys = list(self.spec.merge_keys)
            w = Window.partitionBy(*keys).orderBy(
                F.col(self.spec.keep_latest_by).desc()
            )
            df = (
                df.withColumn("__klb_rn", F.row_number().over(w))
                .where(F.col("__klb_rn") == 1)
                .drop("__klb_rn")
            )
        if list(self.spec.columns) and list(self.spec.columns) != ["*"]:
            df = df.select(*self.spec.columns)
        path = self.target_path()
        mode = self.spec.write_mode
        if self.spec.versioned:
            clean, rejects = self.split_quarantine(df)
            written, path = self._write_versioned(self._arrange(clean))
        else:
            if mode in ("insert", "ignore"):
                # W11 gate: ignore APPENDS its fresh rows, so a drifted/
                # retyped column would write mixed-schema files just like
                # an unchecked insert (replace is implicitly protected —
                # unionByName rejects type conflicts; overwrite
                # legitimately redefines)
                self.check_schema_compat(df)
            impl = {
                "insert": self._append,
                "overwrite": self._overwrite,
                "replace": self._merge_replace,
                "ignore": self._insert_ignore,
            }[mode]

            def attempt():
                # Observations are made per attempt: a failed job completes
                # them with the counts of the tasks that had finished
                clean, rejects = self.split_quarantine(df)
                return impl(self._arrange(clean), path), rejects

            written, rejects = with_retry(
                attempt, mode, self.spec.retry.max_retries
            )
        rejected = 0 if rejects is None else int(rejects.get["rows"])
        reject_path = "" if rejects is None else self.reject_path()
        # dead-letter rows are recorded only once the main write has
        # SUCCEEDED: appending them first would double-count every bad
        # row when a failed job is fixed and re-run (the re-run
        # quarantines the same set again)
        if rejected:
            self._write_df(df.where(self._reject_pred()), reject_path, "append")

        self.run_post_sql()
        return WriteResult(
            target_path=path,
            written=written,
            rejected=rejected,
            reject_path=reject_path,
        )

    def _write_versioned(self, clean: DataFrame) -> tuple[int, str]:
        """Transaction-log table path (writers/versioned.py): atomic
        commits, snapshot isolation, time travel — Delta semantics on
        plain parquet. Returns (rows written, table dir); the caller owns
        reject recording and postSQL so ordering matches the file path."""
        from as_etl_storage_spark.writers.versioned import VersionedTable

        table_dir = os.path.join(
            self.spec.connection.url, self.spec.connection.table.name
        )
        if self.fmt != "parquet":
            raise WriterError("versioned tables require the parquet backend")
        vt = VersionedTable(self.spark, table_dir)
        mode = self.spec.write_mode
        exists = vt.latest_version() is not None
        if self.spec.table_properties and exists:
            # SET TBLPROPERTIES before the write so THIS batch already
            # sees them (bloom-filter build, auto-compaction); a typo'd
            # vt.* key or bad value fails here, before any data moves
            vt.set_properties(dict(self.spec.table_properties))
        if exists and mode in ("insert", "replace"):
            # same W11 gate as the file path: appending/merging a drifted
            # schema would commit mixed-schema files the reader then
            # resolves arbitrarily (overwrite legitimately redefines it)
            self._check_compat_schemas(
                vt.read().schema, clean.schema, table_dir
            )
        pb = list(self.spec.partition_by)
        if exists and pb and mode != "overwrite":
            # append/replace inherit the table's declared layout; a spec
            # asking for a DIFFERENT one is a config error, not a silent
            # re-layout (only overwrite may redeclare, Delta's posture)
            current = vt.partition_columns()
            if pb != current:
                raise WriterError(
                    f"partitionBy {pb} conflicts with the table's "
                    f"declared partition columns {current}; only "
                    f"writeMode=overwrite may re-partition"
                )
        clean.cache()
        try:
            written = clean.count()
            if mode == "insert":
                if exists:
                    # layout inherited from the table; evolveSchema maps
                    # to the log's additive evolution (mergeSchema)
                    vt.append(clean, merge_schema=self.spec.evolve_schema)
                else:
                    vt.overwrite(clean, partition_by=pb)
            elif mode == "overwrite":
                if self.spec.replace_where:
                    # predicate-scoped overwrite (Delta's replaceWhere):
                    # atomic delete-matching + insert-batch; every written
                    # row must satisfy the predicate (enforced in the
                    # write job). Needs an existing table — the predicate
                    # scopes rows that must already be committed
                    if not exists:
                        raise WriterError(
                            f"replaceWhere on {table_dir} needs an "
                            f"existing versioned table (first write "
                            f"should be a plain overwrite)"
                        )
                    vt.replace_where(
                        clean,
                        self.spec.replace_where,
                        merge_schema=self.spec.evolve_schema,
                    )
                elif self.spec.dynamic_partition_overwrite:
                    # replace only the partitions present in the batch;
                    # everything else is carried by name (one commit).
                    # First write creates the table with the declared
                    # layout; after that the spec's partitionBy must
                    # agree with the table's
                    if not exists:
                        vt.overwrite(clean, partition_by=pb)
                    else:
                        current = vt.partition_columns()
                        if pb and pb != current:
                            raise WriterError(
                                f"partitionBy {pb} conflicts with the "
                                f"table's declared partition columns "
                                f"{current}"
                            )
                        vt.overwrite_partitions(
                            clean, merge_schema=self.spec.evolve_schema
                        )
                else:
                    # None keeps the current layout when the spec is
                    # silent; an explicit partitionBy redeclares it.
                    # The spec surface keeps the documented posture that
                    # overwrite legitimately redefines the schema (the
                    # W11 gate deliberately skips overwrite)
                    vt.overwrite(
                        clean, partition_by=pb or None,
                        overwrite_schema=True,
                    )
            elif mode == "replace":
                vt.replace(clean, list(self.spec.merge_keys))
            elif mode == "merge":
                # full MERGE INTO clause surface over the job spec
                # (Delta's writeMode-dispatch shape extended to the
                # versioned sink): clause actions, per-clause
                # conditions and the SET map pass straight through;
                # evolveSchema maps to merge_schema like append's
                vt.merge(
                    clean,
                    list(self.spec.merge_keys),
                    when_matched=self.spec.when_matched,
                    when_not_matched=self.spec.when_not_matched,
                    when_not_matched_by_source=(
                        self.spec.when_not_matched_by_source
                    ),
                    when_matched_condition=(
                        self.spec.when_matched_condition or None
                    ),
                    when_not_matched_condition=(
                        self.spec.when_not_matched_condition or None
                    ),
                    when_not_matched_by_source_condition=(
                        self.spec.when_not_matched_by_source_condition
                        or None
                    ),
                    when_matched_set=self.spec.when_matched_set or None,
                    merge_schema=self.spec.evolve_schema,
                )
            else:
                raise WriterError(
                    f"writeMode {mode!r} unsupported for versioned tables"
                )
        finally:
            # release the cache on the error path too — a failed commit
            # otherwise leaks the cached frame for the session lifetime
            clean.unpersist()
        if self.spec.table_properties and not exists:
            # creation path: the table has a log only now; properties
            # take effect from the NEXT write (a filter for this first
            # batch would need a property that predates the table)
            vt.set_properties(dict(self.spec.table_properties))
        return written, table_dir


class FileFormatWriter(ParquetWriter):
    """csv/json/orc/xml sink behind the same mode surface. All modes work;
    note csv/json round-trips are schema-lossy (csv re-infers types, json
    drops decimal precision) — parquet/versioned is the fidelity path and
    these exist for interchange (the reference writes to whatever dialect
    the job names; format is a config axis, W4)."""

    def __init__(self, spark: SparkSession, spec: WriterSpec, fmt: str):
        if fmt not in ("csv", "json", "orc", "xml"):
            raise WriterError(f"unsupported writer format {fmt!r}")
        super().__init__(spark, spec)
        self.fmt = fmt


def make_writer(spark: SparkSession, spec: WriterSpec):
    """THE writer-dialect dispatch, shared by the job-spec path
    (runner.run_job) and the programmatic path (engine.Engine.write) —
    two hand-rolled copies had already diverged (the engine lacked
    derby). Raises WriterError for unknown dialects."""
    dialect = spec.dialect or "parquet"
    if dialect == "parquet":
        return ParquetWriter(spark, spec)
    if dialect in ("csv", "json", "orc", "xml"):
        return FileFormatWriter(spark, spec, dialect)
    if dialect in ("mysql", "oracle", "derby"):
        from as_etl_storage_spark.writers.jdbc import JdbcWriter

        return JdbcWriter(spark, spec, dialect)
    raise WriterError(f"unsupported writer dialect {dialect!r}")
