"""Physical-plan assertions — the scale properties README/SCALE.md claim,
encoded as tests so a refactor can't silently regress them:
pushdown+pruning on scans, broadcast star joins, two-phase aggregation,
WindowGroupLimit top-k, broadcast (not shuffled) ANN corpus."""

from __future__ import annotations

import pytest

from as_etl_storage_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark):
    plan = plan_of(spark, "s1_scan_project_filter")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)" in plan
    # projection pruned to exactly the 4 requested columns
    assert "l_extendedprice" in plan and "l_shipdate" not in plan


def test_star_join_broadcasts(spark):
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_aggregate_is_two_phase(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # partial + final HashAggregate around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning" in plan


def test_topk_uses_window_group_limit(spark):
    plan = plan_of(spark, "q_window_rank")
    assert "WindowGroupLimit" in plan


def test_ann_corpus_not_shuffled(spark):
    plan = plan_of(spark, "ann_topk_bruteforce")
    # query side broadcast; corpus side must not hash-exchange before the join
    assert "BroadcastNestedLoopJoin" in plan


def test_range_join_broadcasts(spark):
    plan = plan_of(spark, "q_range_join")
    assert "BroadcastHashJoin" in plan


def test_lsh_join_is_equi_not_cartesian(spark):
    plan = plan_of(spark, "ann_lsh_bucket")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_knn_vote_corpus_not_shuffled(spark):
    # query sample broadcast against the corpus; the corpus itself must not
    # hash-exchange to compute neighbor scores
    plan = plan_of(spark, "ann_knn_label_vote")
    assert "BroadcastNestedLoopJoin" in plan


def test_cap_per_source_uses_group_limit(spark):
    # rn <= 50 after row_number must push down to a per-group limit, so at
    # scale each task keeps 50 rows per source instead of ranking everything
    plan = plan_of(spark, "q_cap_per_source")
    assert "WindowGroupLimit" in plan


def test_sessionize_single_shuffle(spark):
    # lag window, running-sum window, and the session aggregate must all
    # reuse ONE user_id hash exchange (partitioning by user_id satisfies
    # grouping by (user_id, session_seq))
    plan = plan_of(spark, "q_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1


def test_rolling_features_single_shuffle(spark):
    plan = plan_of(spark, "q_rolling_user_features")
    assert plan.count("Exchange hashpartitioning") == 1


def test_global_ntile_no_single_partition_window(spark):
    # the distributed rank must not collapse the relation into one
    # partition: no SinglePartition exchange feeding a Window
    from as_etl_storage_spark.operators.rank import global_ntile
    from as_etl_storage_spark.queries.common import load_table

    cust = load_table(spark, SF, "customer").select("c_custkey", "c_acctbal")
    out = global_ntile(cust, ["c_acctbal", "c_custkey"], 4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    # round-6 boundary-literal bucketing: the bucket id is a pure
    # expression of the row's key columns, so the plan carries NO range
    # exchange, and the DATA side reads the source parquet inline instead
    # of a localCheckpoint copy (r5's plan read "Scan ExistingRDD" for the
    # data; now ExistingRDD appears only for the tiny broadcast offsets
    # table) — only the window's hash exchange on the bucket id moves data
    assert "Exchange rangepartitioning" not in plan
    assert "Scan parquet" in plan
    assert "Exchange hashpartitioning(__rank_pid" in plan
    # the plan string alone can't prove range-ordered placement — verify
    # the property directly: buckets are non-overlapping intervals of the
    # order key
    from as_etl_storage_spark.operators.rank import _partitioned_once
    from pyspark.sql import functions as F

    rp = _partitioned_once(
        cust.select(F.col("c_acctbal").alias("k"), "c_custkey"),
        ["k", "c_custkey"],
    )
    spans = {
        r["__rank_pid"]: (r["lo"], r["hi"])
        for r in rp.groupBy("__rank_pid")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
        .collect()
    }
    assert len(spans) > 1  # genuinely spread across partitions
    ordered = [spans[pid] for pid in sorted(spans)]
    for (_, hi_prev), (lo_next, _) in zip(ordered, ordered[1:]):
        assert hi_prev <= lo_next


def test_pq_luts_broadcast_corpus_not_shuffled_as_vectors(spark):
    # the ADC lookup joins must broadcast the tiny (queries x codes)
    # tables; the corpus side appears only as codes, and no SortMergeJoin
    # materializes the raw vectors against queries
    plan = plan_of(spark, "ann_pq_topk")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_rarity_frequency_table_broadcast(spark):
    # the vocabulary-sized frequency table joins back to the token stream
    # via broadcast — the token stream itself must not hash-exchange for
    # that join (only for its own groupBys)
    plan = plan_of(spark, "text_rarity")
    assert "BroadcastHashJoin" in plan


def test_simhash_no_per_bit_explode(spark):
    # the 60 bit-sums aggregate in one pass: exactly one Generate
    # (the token explode), not a second one for bit positions
    plan = plan_of(spark, "dedup_simhash")
    assert plan.count("Generate explode") <= 2  # tokens + block stack


def test_edit_distance_blocking_join_is_slim(spark):
    # candidate generation joins the (id, prefix, len) projection, not the
    # payload; levenshtein appears with its threshold arg (banded DP)
    plan = plan_of(spark, "dedup_edit_distance")
    assert "levenshtein" in plan.lower()


def test_streak_reuses_user_partitioning(spark):
    # row_number window and both aggregates hash-partition on user_id
    # lineage: only ONE user_id exchange of the distinct-day relation
    plan = plan_of(spark, "q_streak_longest")
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_pack_sequences_single_exchange(spark):
    # hashpartitioning(source) from the window is a valid distribution for
    # the (source, pack_id) groupBy, so the whole packing pipeline is ONE
    # shuffle — the property that lets it pack 100 TB per-shard
    plan = plan_of(spark, "text_pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bigrams_no_join(spark):
    # bigrams are built in-plan (transform over an index sequence), not by
    # a positional self-join of the token stream
    plan = plan_of(spark, "text_bigrams_top")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_inverted_index_band_broadcast(spark):
    # the df-band table is vocabulary-sized: broadcast, never shuffled
    plan = plan_of(spark, "text_inverted_index")
    assert "BroadcastHashJoin" in plan


def test_weighted_sample_no_global_sort(spark):
    # bottom-k is per-partition TakeOrderedAndProject + driver merge,
    # not a rangepartitioning exchange + full Sort
    plan = plan_of(spark, "q_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_bucketed_join_has_no_exchange(spark):
    # both sides bucket-sorted on the join key with equal bucket counts:
    # the sort-merge join must read bucket i vs bucket i with NO shuffle
    # on either side (the whole point of paying the shuffle at ingest)
    from as_etl_storage_spark.queries.behavioral import _w_bucketed_join

    df = _w_bucketed_join(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan[plan.index("SortMergeJoin"):]
    assert "Exchange hashpartitioning" not in join_part
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_bm25_global_topk_avoids_single_partition_window(spark):
    # global top-k must plan as TakeOrderedAndProject (map-side top-k),
    # not a single-partition row_number window over every scored doc
    plan = plan_of(spark, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan


def test_int8_rescore_broadcasts_queries(spark):
    # quantized candidate scan: query side broadcast, corpus scanned once
    plan = plan_of(spark, "ann_int8_rescore")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_vectorized_ann_guard_costs_no_extra_job(spark):
    # the vectorized path's query-cap guard is folded into its one
    # bounded collect (_collect_query_rows): BUILDING the frame must run
    # exactly one Spark job. A refactor that reintroduces a pre-flight
    # count job (the JVM broadcast paths' shape, where the relation
    # build — not a visible collect — is the hazard) triples the query
    # fan-in cost at 100 TB, where every corpus-adjacent job is a scan.
    import time

    from as_etl_storage_spark.operators.similarity import cosine_topk_vectorized
    from as_etl_storage_spark.queries.common import load_table

    emb = load_table(spark, SF, "embeddings")
    sc = spark.sparkContext
    group = f"ann_guard_{time.monotonic_ns()}"
    sc.setJobGroup(group, "build vectorized ann frame")
    cosine_topk_vectorized(emb, "vec_id", "embedding", 5, "vid < 8")
    sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, (
        f"expected the bounded query collect to be the ONLY job during "
        f"frame construction, saw {len(jobs)}"
    )


def test_renamed_column_read_pushes_filters_to_scan(spark, tmp_path):
    """Column mapping must stay plan-invisible: the scan declares the
    PHYSICAL schema, the logical names come back via one alias
    projection, and a filter on the LOGICAL name still reaches the
    parquet scan as a pushed filter on the PHYSICAL column — renames
    cost zero at read time."""
    from pyspark.sql import functions as F

    from as_etl_storage_spark.writers.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "rnplan"))
    vt.overwrite(spark.range(1000).select("id", (F.col("id") * 2).alias("v")))
    vt.rename_column("v", "value")
    df = vt.read().where(F.col("value") > 100).select("id", "value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # pushed on the PHYSICAL name at the scan
    assert "PushedFilters: [IsNotNull(v), GreaterThan(v,100)]" in plan, plan
    # read schema pruned to the two physical columns
    assert "ReadSchema: struct<id:bigint,v:bigint>" in plan, plan
    # no exchange introduced by the mapping projection
    assert "Exchange" not in plan


def test_conditional_merge_discovery_prunes_through_structs(spark, tmp_path):
    """The source./target. struct aliases a merge condition uses must
    stay plan-invisible: Catalyst's extract-value simplification turns
    GetStructField(target, c) back into the flat column, so the
    discovery scan's ReadSchema carries ONLY the condition's columns +
    the keys — never every column of every candidate file."""
    from pyspark.sql import functions as F

    from as_etl_storage_spark.writers.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "cmplan"))
    vt.overwrite(
        spark.range(1000).select(
            "id",
            F.col("id").alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
            F.lit("x").alias("unused1"),
            F.lit(1.5).alias("unused2"),
        )
    )
    base = vt.latest_version()
    disc = vt._scan_files(
        vt._state(base),
        vt._scan_schema(base),
        vt._dv_at(base),
        keep_identity=True,
        mapping={},
        partition_by=[],
    )
    data_cols = [
        c for c in disc.columns if c not in ("__vt_file", "__vt_pos")
    ]
    source = spark.range(5).select(
        F.col("id"),
        F.col("id").alias("k"),
        F.lit("z").alias("payload"),
        F.lit("y").alias("unused1"),
        F.lit(2.5).alias("unused2"),
    ).select(*data_cols)
    pair, _ = vt._matched_pairs(disc, source, ["k"])
    cond = vt._as_condition("source.payload < target.payload")
    plan = (
        pair.where(cond)
        .select("__vt_file")
        .distinct()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    m = re.search(r"ReadSchema: (struct<[^\n]*?>)", plan)
    assert m, plan
    schema = m.group(1)
    assert "payload" in schema and "k" in schema, schema
    assert "unused1" not in schema and "unused2" not in schema, schema


def test_identity_allocation_in_plan(spark, tmp_path):
    # the identity allocator's cost shape: the corpus moves through ONE
    # hash exchange (the partition-id window), never a SinglePartition
    # collapse; the per-partition offsets come back as a BROADCAST join
    # over the <=P-row stats lineage — per-row assignment never touches
    # the driver
    from pyspark.sql import functions as F

    from as_etl_storage_spark.writers.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "idp"))
    df = spark.range(1000).repartition(7).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        F.lit(None).cast("long").alias("rid"),
    )
    out = vt._with_identity_allocation(
        df, {"rid": {"start": 1, "step": 1, "high": None}}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan  # offsets join back broadcast
    assert "CartesianProduct" not in plan
    # exactly one corpus-bearing exchange: the pid window's
    assert plan.count("Exchange hashpartitioning(__vt_id_pid") >= 1
    # and the values are what the contract says
    got = sorted(r.rid for r in out.collect())
    assert got == list(range(1, 1001))


def test_merge_evolution_keeps_file_pruned_discovery(spark, tmp_path):
    # merge_schema must not change merge's cost shape: the touched-file
    # discovery stays key-pruned (left_semi against the source keys),
    # and untouched files are still carried by name — an evolving merge
    # that silently rewrote the whole table would be a 100TB regression
    from pyspark.sql import functions as F

    from as_etl_storage_spark.writers.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "mep"))
    # many files, keys clustered per file => manifest pruning can skip
    for lo in range(0, 100, 10):
        df = spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        ).coalesce(1)
        if lo == 0:
            vt.overwrite(df)
        else:
            vt.append(df)
    before = set(vt._state(vt.latest_version()))
    assert len(before) == 10
    vt.merge(
        spark.createDataFrame([(5, -5, "x")], "k long, v long, tag string"),
        ["k"],
        merge_schema=True,
        mode="rewrite",
    )
    after = set(vt._state(vt.latest_version()))
    carried = before & after
    # exactly one file held key 5: the other nine carried BY NAME
    assert len(carried) == 9
    got = {r.k: (r.v, r.tag) for r in vt.read().where("k in (5, 50)").collect()}
    assert got[5] == (-5, "x") and got[50] == (50, None)


def test_dv_merge_evolution_keeps_file_pruned_discovery(spark, tmp_path):
    # the vector-mode twin: the evolving merge still touches only the
    # file holding key 5, masks that one row in place and carries every
    # file; the vectored file's rows read the new column as NULL
    from pyspark.sql import functions as F

    from as_etl_storage_spark.writers.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "mepdv"))
    for lo in range(0, 100, 10):
        df = spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        ).coalesce(1)
        if lo == 0:
            vt.overwrite(df)
        else:
            vt.append(df)
    before = set(vt._state(vt.latest_version()))
    v = vt.merge(
        spark.createDataFrame([(5, -5, "x")], "k long, v long, tag string"),
        ["k"],
        merge_schema=True,
    )
    assert before <= set(vt._state(v))
    assert [e["rows"] for e in vt._dv_at(v).values()] == [1]
    got = {
        r.k: (r.v, r.tag)
        for r in vt.read().where("k in (5, 6, 50)").collect()
    }
    assert got == {5: (-5, "x"), 6: (6, None), 50: (50, None)}
    assert vt.count() == 100


def _lambda_bodies(plan: str) -> list[str]:
    """The argument text of every ``lambdafunction(...)`` in a plan."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        i = j = start + len("lambdafunction(")
        depth = 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        bodies.append(plan[i:j - 1])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "text_boilerplate"])
def test_word_grams_tokenize_outside_the_lambda(spark, monkeypatch, name):
    # the token array is projected once per document and the gram lambda
    # slices it; a split inside the lambda re-tokenizes the whole text
    # once per gram, O(tokens x length). ngram_jaccard checkpoints its
    # gram table while building, so checkpointed plans are captured too.
    frame = type(spark.range(1))  # the concrete (classic) DataFrame class
    plans = []
    checkpoint = frame.localCheckpoint

    def capturing(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", capturing)
    df = QUERIES[name](spark, SF)
    plans.append(df._jdf.queryExecution().optimizedPlan().toString())
    bodies = [b for p in plans for b in _lambda_bodies(p)]
    assert any("slice(" in b for b in bodies)  # the gram lambda is there
    assert not any("split(" in b for b in bodies)
