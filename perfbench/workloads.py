"""The closed-loop workloads.

Each workload has one client: an operation starts only when the previous
one has returned. A pass runs from fresh state to a complete result and is
timed as one interval; its outputs are checked afterwards, outside the
timed interval, then deleted.
"""

from __future__ import annotations

import json
import os
import sys
import traceback
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
from spans import Tracer


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it raises
    or its output check finds a problem."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


@dataclass
class Context:
    spark: object
    data: str  # generated inputs
    out: str  # outputs; one subdirectory per pass, deleted after its check
    tracer: Tracer
    traced: bool
    con: object  # DuckDB connection for the checks


@dataclass
class Op:
    """One operation of a pass: what ran, its result and any error."""

    kind: str
    span: int  # id of the span it ran in
    result: object = None
    error: str = ""
    info: dict = field(default_factory=dict)

    def run(self, fn) -> "Op":
        """Run ``fn`` as this operation. An exception fails the operation,
        not the benchmark; its traceback goes to stderr."""
        try:
            self.result = fn()
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            self.error = traceback.format_exc()
            print(self.error, file=sys.stderr)
        return self


def _catalyst(df) -> dict:
    """Catalyst phase times of ``df``'s query, in seconds. Planning is
    forced here; analysis ran when the frame was built."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {
        f"{k}_s": phases.apply(k).durationMs() / 1e3 if phases.contains(k) else 0.0
        for k in ("analysis", "optimization", "planning")
    }


class Workload:
    name = ""
    #: input rows one pass processes (the rows_per_s numerator)
    input_rows = 0

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def prepare(self, rng: np.random.Generator) -> None:
        """Generate inputs and expected outputs (see ``prepared``)."""

    def run_pass(self, out: str) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op], out: str, tally: Tally) -> dict:
        """Check every operation of a pass; returns measurements of the
        pass's outputs (space used)."""
        raise NotImplementedError

    def span(self, name: str, **attrs):
        return self.ctx.tracer.span(name, **attrs)


class BatchEtl(Workload):
    """File-to-file batch pipelines: the seeded JSON copy jobs over a
    lineitem-shaped source, then four curation operators over documents
    and embeddings, each result into a noop sink."""

    name = "batch_etl"
    CURATION = ("text_quality", "dedup_exact", "dedup_minhash_lsh", "ann_topk_vectorized")

    def prepare(self, rng: np.random.Generator) -> None:
        from as_etl_storage_spark.queries.llmops import ORACLES

        c = self.ctx
        self.src = os.path.join(c.data, "lineitem.parquet")
        gen.write_split(gen.lineitem(rng), self.src, gen.LINEITEM_FILES)
        self.jobs = gen.etl_jobs(rng)
        self.copy_expected = {
            j.name: checks.etl_expected(c.con, self.src, j.columns, j.where)
            for j in self.jobs
        }
        # the same final rows written once by the generator
        self.once_bytes = sum(
            gen.parquet_bytes(
                c.con.sql(
                    f"SELECT {', '.join(j.columns)} FROM {checks.parquet_glob(self.src)}"
                    f" WHERE {j.where}"
                ).arrow(),
                os.path.join(c.data, "_once.parquet"),
            )
            for j in self.jobs
        )

        gen.write_parquet(gen.documents(rng), os.path.join(c.data, "documents.parquet"))
        gen.write_parquet(gen.embeddings(rng), os.path.join(c.data, "embeddings.parquet"))
        self.query_pred = gen.cosine_query_pred(rng)
        for t in ("documents", "embeddings"):
            c.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(c.data, t)}.parquet')"
            )
        # the registered oracles, re-pointed at the generated inputs
        oracles = {name: ORACLES[name] for name in self.CURATION}
        oracles["ann_topk_vectorized"] = oracles["ann_topk_vectorized"].replace(
            "vec_id % 50 = 0", self.query_pred.replace("vid", "vec_id")
        )
        self.oracle_rows = {name: c.con.sql(sql).arrow() for name, sql in oracles.items()}
        self.input_rows = (
            gen.LINEITEM_ROWS * len(self.jobs) + 3 * gen.DOCUMENTS_ROWS + gen.EMBEDDINGS_ROWS
        )

    def run_pass(self, out: str) -> list[Op]:
        return self._copy(out) + self._curate()

    def _copy(self, out: str) -> list[Op]:
        from as_etl_storage_spark import JobSpec, run_job
        from as_etl_storage_spark.plans.planner import plan_read
        from as_etl_storage_spark.writers.writer import make_writer

        spark = self.ctx.spark
        ops = []

        def layered(text):
            # run_job's reader->writer path, one span per layer
            with self.span("spec"):
                spec = JobSpec.from_json(text)
            with self.span("plans"):
                df = plan_read(spark, spec.reader)
            with self.span("writers.writer"):
                return make_writer(spark, spec.writer).write(df)

        run = layered if self.ctx.traced else lambda text: run_job(spark, text)
        for job in self.jobs:
            text = json.dumps(job.spec(self.ctx.data, out))
            with self.span("etl.job", job=job.name, mode=job.mode) as s:
                ops.append(Op("job", s.id, info={"job": job}).run(lambda: run(text)))
        return ops

    def _curate(self) -> list[Op]:
        from as_etl_storage_spark.operators import dedup, similarity, text
        from as_etl_storage_spark.queries.common import load_table

        spark = self.ctx.spark
        with self.span("inputs"):
            docs = load_table(spark, self.ctx.data, "documents")
            emb = load_table(spark, self.ctx.data, "embeddings")
        calls = [
            (
                "operators.text",
                "text_quality",
                lambda: text.quality_score(docs, "doc_id", "text"),
            ),
            (
                "operators.dedup",
                "dedup_exact",
                lambda: dedup.exact_dedup(docs, "doc_id", ["text"]),
            ),
            (
                "operators.dedup",
                "dedup_minhash_lsh",
                lambda: dedup.minhash_dedup_pairs(docs, "doc_id", "text", p=4, q=5),
            ),
            (
                "operators.similarity",
                "ann_topk_vectorized",
                lambda: similarity.cosine_topk_vectorized(
                    emb, "vec_id", "embedding", 5, self.query_pred
                ),
            ),
        ]
        ops = []
        for layer, name, build in calls:
            with self.span(layer, query=name) as call:
                op = Op(name, call.id, info={"layer": layer})
                ops.append(op)
                with self.span(f"{layer}.build"):
                    op.run(build)
                if op.error:
                    continue
                df = op.result
                if self.ctx.traced:
                    with self.span(f"{layer}.plan"):
                        op.info["catalyst"] = _catalyst(df)
                with self.span(f"{layer}.exec"):
                    sink = Op(name, call.id).run(
                        lambda: df.write.format("noop").mode("overwrite").save()
                    )
                op.error = sink.error
        return ops

    def check(self, ops: list[Op], out: str, tally: Tally) -> dict:
        con = self.ctx.con
        for op in ops:
            if op.error:
                tally.record([f"{op.kind} raised"])
            elif op.kind == "job":
                job = op.info["job"]
                target = os.path.join(out, f"{job.name}.parquet")
                want = self.copy_expected[job.name]
                tally.record(
                    checks.etl_problems(con, target, job.columns, want, op.result.written)
                )
            else:
                tally.record(
                    checks.frame_problems(
                        con, op.kind, op.result.toArrow(), self.oracle_rows[op.kind]
                    )
                )
        return {"space_amp": gen.dir_bytes(out) / self.once_bytes}


class LakeDml(Workload):
    """A fixed, seeded DML sequence on a fresh VersionedTable per pass."""

    name = "lake_dml"

    def prepare(self, rng: np.random.Generator) -> None:
        c = self.ctx
        self.plan = gen.dml_plan(rng, os.path.join(c.data, "dml"))
        self.input_rows = self.plan.input_rows
        # model replay once: every pass must reproduce these steps
        model = checks.DmlModel(c.con)
        self.steps = [model.apply(op) for op in self.plan.ops]
        self.final = model.checksum()
        self.once_bytes = gen.parquet_bytes(
            model.arrow(), os.path.join(c.data, "_once.parquet")
        )
        self.row_bytes = gen.dir_bytes(self.plan.base) / gen.ORDERS_ROWS

    def run_pass(self, out: str) -> list[Op]:
        from as_etl_storage_spark.writers.versioned import VersionedTable

        spark = self.ctx.spark
        vt = VersionedTable(spark, os.path.join(out, "orders_vt"))
        self.vt = vt
        ops = []
        for op in self.plan.ops:
            if self.ctx.traced:
                before = _data_files(vt.path)
            with self.span(f"writers.versioned.{op.kind}") as s:
                rec = Op(op.kind, s.id, info={"op": op}).run(
                    lambda: self._apply(spark, vt, op)
                )
            if self.ctx.traced:
                after = _data_files(vt.path)
                new = set(after) - set(before)
                rec.info["files_added"] = len(new)
                rec.info["bytes_added"] = sum(after[f] for f in new)
            ops.append(rec)
            if rec.error:
                break  # later operations would diverge from the model
        return ops

    @staticmethod
    def _apply(spark, vt, op):
        if op.kind == "overwrite":
            return vt.overwrite(spark.read.parquet(op.source))
        if op.kind == "append":
            return vt.append(spark.read.parquet(op.source))
        if op.kind == "merge":
            return vt.merge(spark.read.parquet(op.source), on=["o_orderkey"])
        if op.kind == "delete":
            return vt.delete(op.sql() if op.modulus is not None else op.triples())
        if op.kind == "read":
            vt.read(prune=op.triples()).write.format("noop").mode("overwrite").save()
            return None
        raise ValueError(op.kind)

    def check(self, ops: list[Op], out: str, tally: Tally) -> dict:
        vt = self.vt
        version = None
        for rec, want in zip(ops, self.steps):
            op = rec.info["op"]
            rec.info["changed_bytes"] = want.changed * self.row_bytes
            if rec.error:
                tally.record([f"{op.kind} raised"])
                continue
            if op.kind == "read":
                got = vt.read(version_as_of=version, prune=op.triples()).count()
            else:
                # None: the operation matched nothing and committed nothing
                version = rec.result if rec.result is not None else version
                got = vt.count(version_as_of=version)
            tally.record(
                []
                if got == want.rows
                else [f"{op.kind} at version {version}: {got} rows, model {want.rows}"]
            )
        if len(ops) == len(self.plan.ops) and not ops[-1].error:
            # the final snapshot read is one more checked operation
            snap = vt.read().toArrow()
            tally.record(checks.snapshot_problems(self.ctx.con, snap, self.final))
        log = os.path.join(vt.path, "_log")
        commits = sum(1 for r in ops if r.result is not None)
        log_files = os.listdir(log)
        return {
            "space_amp": gen.dir_bytes(vt.path) / self.once_bytes,
            "log_files_per_commit": len(log_files) / max(commits, 1),
            "log_bytes_per_commit": gen.dir_bytes(log) / max(commits, 1),
        }


def _data_files(path: str) -> dict[str, int]:
    """Data and change files of a versioned table with their sizes (the
    log is measured separately)."""
    out = {}
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_log"]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


WORKLOADS = {w.name: w for w in (BatchEtl, LakeDml)}


def prepared(name: str, seed: int, data: str) -> dict:
    """Generate a workload's inputs under ``data`` and return its expected
    outputs. Meant for a child process: the generator's and the oracles'
    memory then never counts in the measured process tree."""
    import duckdb

    ctx = Context(None, data, "", None, False, duckdb.connect())
    wl = WORKLOADS[name](ctx)
    wl.prepare(np.random.default_rng(seed))
    return {k: v for k, v in vars(wl).items() if k != "ctx"}
