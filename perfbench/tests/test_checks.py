"""The output checks pass on correct outputs and fail on corrupted ones,
which shows up as a failed_share above 0."""

import os
from types import SimpleNamespace

import duckdb
import numpy as np
import pyarrow as pa
import pytest

import checks
import gen
from workloads import WORKLOADS, Context, Op, Tally, prepared


def _ctx(tmp_path):
    return Context(None, str(tmp_path / "data"), "", None, False, duckdb.connect())


@pytest.fixture(scope="module")
def batch(tmp_path_factory):
    """A batch_etl workload with its inputs and expected outputs."""
    ctx = _ctx(tmp_path_factory.mktemp("batch"))
    wl = WORKLOADS["batch_etl"](ctx)
    vars(wl).update(prepared("batch_etl", 7, ctx.data))
    return wl


def _bump_first(table: pa.Table, column: str) -> pa.Table:
    """The same rows with one value of ``column`` changed."""
    values = table[column].to_pylist()
    values[0] = values[0] + 1
    return table.set_column(
        table.column_names.index(column), column, pa.array(values, table[column].type)
    )


def test_copy_check_flags_a_corrupted_output(batch, tmp_path):
    out = str(tmp_path / "out")

    def write_outputs(corrupt: str = ""):
        ops = []
        for job in batch.jobs:
            rows = batch.ctx.con.sql(
                f"SELECT {', '.join(job.columns)} FROM {checks.parquet_glob(batch.src)}"
                f" WHERE {job.where}"
            ).arrow()
            if job.name == corrupt:
                rows = _bump_first(rows, "l_orderkey")
            gen.write_parquet(rows, os.path.join(out, f"{job.name}.parquet", "part-0.parquet"))
            ops.append(Op("job", 0, SimpleNamespace(written=rows.num_rows), info={"job": job}))
        return ops

    good = Tally()
    outputs = batch.check(write_outputs(), out, good)
    assert (good.attempted, good.failed) == (4, 0)
    assert outputs["space_amp"] == pytest.approx(1.0, rel=0.05)

    bad = Tally()
    batch.check(write_outputs(corrupt="job2"), out, bad)
    assert bad.failed == 1 and bad.failed_share > 0
    assert "job2" in bad.problems[0]


def test_etl_written_count_is_checked(tmp_path):
    con = duckdb.connect()
    src = str(tmp_path / "src")
    gen.write_split(gen.lineitem(np.random.default_rng(1), 5_000), src, 2)
    cols, where = gen.ETL_TEMPLATES[0]
    want = checks.etl_expected(con, src, cols, where)
    sql = f"SELECT {', '.join(cols)} FROM {checks.parquet_glob(src)} WHERE {where}"
    rows = con.sql(sql).arrow()
    gen.write_parquet(rows, str(tmp_path / "t" / "p.parquet"))
    assert checks.etl_problems(con, str(tmp_path / "t"), cols, want, rows.num_rows) == []
    assert checks.etl_problems(con, str(tmp_path / "t"), cols, want, rows.num_rows + 1)


def test_dml_model_and_snapshot_check(tmp_path):
    ctx = _ctx(tmp_path)
    state = prepared("lake_dml", 3, ctx.data)
    kinds = [op.kind for op in state["plan"].ops]
    assert kinds == ["overwrite"] + ["append", "merge", "delete", "read"] * 2
    steps = state["steps"]
    assert steps[0].rows == gen.ORDERS_ROWS
    assert steps[1].rows == gen.ORDERS_ROWS + gen.APPEND_ROWS
    assert steps[2].changed == gen.MERGE_ROWS + gen.MERGE_NEW_ROWS
    assert 0 < steps[3].changed < gen.ORDERS_ROWS // 50

    # replay the plan once more: the final table matches the expected
    # checksum, a corrupted copy of it does not
    model = checks.DmlModel(duckdb.connect())
    for op in state["plan"].ops:
        model.apply(op)
    final = model.arrow()
    assert checks.snapshot_problems(ctx.con, final, state["final"]) == []
    assert checks.snapshot_problems(ctx.con, _bump_first(final, "o_custkey"), state["final"])
    assert checks.snapshot_problems(ctx.con, final.slice(1), state["final"])


def test_curation_check_flags_a_wrong_row(batch):
    expected = batch.oracle_rows
    assert expected["dedup_minhash_lsh"].num_rows > 0  # planted near-duplicates

    def check(results: dict) -> Tally:
        tally = Tally()
        ops = [
            Op(name, 0, SimpleNamespace(toArrow=lambda t=t: t)) for name, t in results.items()
        ]
        batch.check(ops, "", tally)
        return tally

    assert check(expected).failed == 0
    ann = _bump_first(expected["ann_topk_vectorized"], "neighbor_id")
    tally = check(dict(expected, ann_topk_vectorized=ann))
    assert tally.failed == 1 and tally.failed_share == pytest.approx(0.25)
    # a result missing a row fails too
    assert check(dict(expected, dedup_exact=expected["dedup_exact"].slice(1))).failed == 1


def test_inputs_depend_only_on_the_seed(tmp_path):
    a = prepared("lake_dml", 11, str(tmp_path / "a"))
    b = prepared("lake_dml", 11, str(tmp_path / "b"))
    c = prepared("lake_dml", 12, str(tmp_path / "c"))
    assert a["final"] == b["final"] and a["steps"] == b["steps"]
    assert c["final"] != a["final"]
