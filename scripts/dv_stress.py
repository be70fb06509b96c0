"""Deletion-vector cost evidence at file count (SCALE.md 'dv_1k_files').

Same 1,000-file table as prune_stress.py. Measures the two sides of the
merge-on-read trade on a selective (1% of rows, every file touched)
delete — the worst case for copy-on-write, since a scattered predicate
rewrites EVERYTHING:

  * the DELETE itself: dv mode (positions sidecar, zero data rewrite)
    vs rewrite mode (full copy-on-write of every touched file);
  * the READ after: a full count over the dv'd snapshot (pays the
    position filter) vs over the rewritten snapshot.

Usage: python scripts/dv_stress.py  (prints one JSON row)
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from as_etl_storage_spark import get_spark
from as_etl_storage_spark.writers.versioned import VersionedTable

ROWS = 1_000_000
APPENDS = 20
FILES_PER_APPEND = 50  # ~1,000 files total


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def build(spark, root: str) -> VersionedTable:
    vt = VersionedTable(spark, root)
    per = ROWS // APPENDS
    for i in range(APPENDS):
        batch = (
            spark.range(i * per, (i + 1) * per)
            .withColumn("v", F.col("id") * 2)
            .repartition(FILES_PER_APPEND)
        )
        if i == 0:
            vt.overwrite(batch)
        else:
            vt.append(batch)
    return vt


def main() -> None:
    import shutil
    import tempfile

    spark = get_spark("dv-stress")
    root = tempfile.mkdtemp(prefix="dv_stress_")
    try:
        # scattered predicate: ~1% of rows, present in EVERY file
        pred = "id % 100 = 0"
        a = build(spark, os.path.join(root, "a"))
        a.read().count()  # warm
        # baseline on the SAME 1,000-file layout with no vectors: the
        # rewrite-mode comparison below also compacts 1,000 files into
        # ~32, so ITS faster read conflates file-count with the DV tax
        t_agg_base, _ = timed(
            lambda: a.read().agg(F.sum("v")).collect()[0][0]
        )
        t_dv, _ = timed(lambda: a.delete(pred, mode="dv"))
        t_read_dv, n_dv = timed(lambda: a.read().count())
        # column aggregate: count() over a plain parquet scan reads no
        # column bytes (row-group counts), which makes the count
        # comparison flatter the non-DV side — sum(v) reads data both ways
        t_agg_dv, s_dv = timed(
            lambda: a.read().agg(F.sum("v")).collect()[0][0]
        )

        b = build(spark, os.path.join(root, "b"))
        b.read().count()
        t_rw, _ = timed(lambda: b.delete(pred, mode="rewrite"))
        t_read_rw, n_rw = timed(lambda: b.read().count())
        t_agg_rw, s_rw = timed(
            lambda: b.read().agg(F.sum("v")).collect()[0][0]
        )
        assert n_dv == n_rw == ROWS - ROWS // 100
        assert s_dv == s_rw

        files_a = len(a._state(a.latest_version()))
        print(
            json.dumps(
                {
                    "case": "dv_1k_files",
                    "files": files_a,
                    "rows": ROWS,
                    "deleted_pct": 1,
                    "delete_dv_sec": round(t_dv, 2),
                    "delete_rewrite_sec": round(t_rw, 2),
                    "read_after_dv_sec": round(t_read_dv, 2),
                    "read_after_rewrite_sec": round(t_read_rw, 2),
                    "agg_same_layout_no_dv_sec": round(t_agg_base, 2),
                    "agg_after_dv_sec": round(t_agg_dv, 2),
                    "agg_after_rewrite_sec": round(t_agg_rw, 2),
                }
            )
        )
        churn(spark, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


CHURN_ROWS = 200_000
CHURN_FILES = 100
CHURN_ROUNDS = 10


def churn(spark, root: str) -> None:
    """Repeated-delete accumulation (SCALE.md 'dv_churn'): 10 successive
    ~6% dv deletes. With the dv_rewrite_fraction threshold OFF the
    vectors and sidecars grow without bound and every reader's
    position filter pays for all of them; with the DEFAULT 0.5 threshold the
    cumulative fraction trips a rewrite and the vector payload stays
    bounded."""

    def build_small(path):
        vt = VersionedTable(spark, path)
        vt.overwrite(
            spark.range(CHURN_ROWS)
            .withColumn("v", F.col("id") * 2)
            .repartition(CHURN_FILES)
        )
        return vt

    out = {"case": "dv_churn", "rounds": CHURN_ROUNDS,
           "pct_per_round": round(100 / 17, 1)}
    for label, frac in (("unbounded", 2.0), ("threshold_0.5", 0.5)):
        vt = build_small(os.path.join(root, f"churn_{label}"))
        vt.read().count()  # warm
        t0 = time.perf_counter()
        for r in range(CHURN_ROUNDS):
            # each round hits a DISTINCT ~5.9% slice of every file
            vt.delete(
                f"id % 17 = {r}", mode="dv", dv_rewrite_fraction=frac
            )
        t_deletes = time.perf_counter() - t0
        d = vt.detail()
        t_agg, _ = timed(lambda: vt.read().agg(F.sum("v")).collect()[0][0])
        out[label] = {
            "deletes_sec": round(t_deletes, 2),
            "dv_rows_after": d["dv_rows"],
            "dv_sidecar_files_after": d["dv_sidecar_files"],
            "data_files_after": d["num_files"],
            "agg_read_sec": round(t_agg, 2),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
