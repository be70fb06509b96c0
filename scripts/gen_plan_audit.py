"""Generate docs/PLANS.md: captured physical-plan evidence for the scale
claims in docs/SCALE.md. Re-run after planner-affecting changes:

    python scripts/gen_plan_audit.py

For each audited query it records the operator skeleton of the executed
plan (one line per physical operator, details stripped) plus the scan
evidence lines (PushedFilters / ReadSchema) and summary counters —
exchanges, joins by strategy, codegen spans. Operators that materialize
an intermediate with ``localCheckpoint`` while the query builds (the
MinHash candidate pairs, for one) leave only a ``Scan ExistingRDD`` in
the final plan, so each plan checkpointed during the build is recorded
too, in build order. tests/test_plan_properties.py
asserts the load-bearing properties; this file is the human-readable
companion showing the whole plan each assertion lives in.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from as_etl_storage_spark.queries import QUERIES  # noqa: E402
from as_etl_storage_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

#: queries whose claim is about broadcast-threshold behavior must be
#: captured at a scale where the fact side actually EXCEEDS the
#: threshold — at sf0.01 AQE happily broadcasts lineitem itself, which
#: makes "the fact is never shuffled" true for the wrong reason
SF_OVERRIDE = {
    "q5_local_supplier_volume": "/root/testdata/sf0.1",
    "q1_pricing_summary": "/root/testdata/sf0.1",
}

#: per-query session-conf overrides during capture. For q5 the broadcast
#: threshold is scaled DOWN in proportion to the test data, so the capture
#: shows the 100 TB plan shape: true dimensions (region/nation/supplier)
#: fit the threshold and broadcast; customer/orders/lineitem do not, so
#: the fact-side joins plan as key-partitioned SortMergeJoins. At default
#: threshold the sf0.1 estimate still lets the fact side broadcast, which
#: proves nothing about scale.
CONF_OVERRIDE = {
    "q5_local_supplier_volume": {
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024),
    },
}

#: query -> the scale claim its plan must exhibit
AUDITED = {
    "s1_scan_project_filter": "filters and projection reach the parquet scan "
    "(PushedFilters + pruned ReadSchema); no Filter operator re-evaluates "
    "what the scan already skipped via row-group stats",
    "q1_pricing_summary": "two-phase aggregation: partial HashAggregate "
    "before the exchange, final after — shuffle carries K groups, not N rows",
    "q5_local_supplier_volume": "star join at the 100 TB shape (captured "
    "at sf0.1 with the broadcast threshold scaled down in proportion): "
    "sides that fit the threshold (region, nation, supplier, customer's "
    "2-column projection) broadcast; the one genuinely big-to-big join "
    "(orders-lineitem) is a key-partitioned SortMergeJoin — no side of a "
    "big join is ever replicated, and the facts shuffle only on their "
    "join keys",
    "q_topk_orders": "global top-k is TakeOrderedAndProject (per-partition "
    "heap + driver merge of k·P rows), not a global sort",
    "q_window_rank": "ranked filter plans as WindowGroupLimit: the per-group "
    "limit is pushed below the shuffle, pruning before the sort",
    "q_sessionize": "gap-based sessionization: lag, flag, running sum and "
    "the session aggregate all reuse ONE hashpartitioning(user_id) exchange",
    "text_pack_sequences": "sequence packing is ONE shuffle: "
    "hashpartitioning(source) from the window satisfies the "
    "(source, pack_id) groupBy distribution",
    "text_bigrams_top": "bigrams built in-plan (transform over an index "
    "sequence, slicing the token array projected once per document) — no "
    "positional self-join; one aggregation shuffle",
    "text_inverted_index": "document-frequency band filter broadcasts "
    "(vocabulary-sized); posting lists aggregate only the mid-band",
    "q_weighted_sample": "weighted bottom-k is TakeOrderedAndProject — "
    "no rangepartitioning exchange, no global sort",
    "ann_topk_bruteforce": "query vectors broadcast to the corpus "
    "(BroadcastNestedLoopJoin); the corpus is never shuffled",
    "ann_topk_vectorized": "benched ANN path: one corpus scan into "
    "mapInPandas (BLAS matmul per Arrow batch against the closed-over "
    "query matrix); shuffle carries only per-batch local top-k, not the "
    "corpus",
    "ml_kmeans_validated": "per-iteration assignment is one corpus scan "
    "into mapInPandas (broadcast centroid matrix); the centroid update is "
    "shuffle-free (per-partition partial sums combined on the driver), so "
    "the only exchanges left are the single-row objective aggregates — "
    "the corpus is never shuffled",
    "dedup_minhash_lsh": "LSH candidate generation is an equi-join on "
    "(band, signature) — no cartesian product anywhere",
    "dedup_simhash": "60 bit-sums in one aggregation pass (single token "
    "explode), Hamming verification only on block-collision candidates",
    "q_range_join": "range join: the small bucketed side broadcasts; the "
    "probe stays partition-local",
    "skew_salted_join": "salt explodes the small side only; the skewed fact "
    "keys spread over n_salts partitions",
    "w_bucketed_join": "bucketed co-located join: both sides bucket-sorted "
    "on the key at ingest, so the SortMergeJoin has NO Exchange on either "
    "side (SelectedBucketsCount 8 out of 8) — the shuffle was paid once at "
    "write time",
    "text_bm25_topk": "BM25: token stream filtered to query terms before "
    "the (doc, term) aggregation; stats joins broadcast; global top-k is "
    "TakeOrderedAndProject, never a single-partition window",
    "ann_int8_rescore": "int8 ANN: quantized queries broadcast over one "
    "corpus scan (BroadcastNestedLoopJoin); only mult·k candidates per "
    "query reach the exact-cosine rerank window",
    "dedup_paragraph_rebuild": "segment dedup: ownership election is one "
    "hashpartitioning(seg) aggregation; reassembly one "
    "hashpartitioning(doc) aggregation — no joins wider than the segment "
    "stream",
    "hybrid_search_rrf": "rank fusion: the full-outer join touches only "
    "|rankers|·n already-truncated top rows; each ranker keeps its own "
    "scale shape below",
    "corpus_budget_select": "distributed prefix sum: boundary-literal "
    "bucketing (bucket id is a pure expression — no range exchange, no "
    "checkpoint copy) + broadcast per-bucket offsets; no single-partition "
    "window anywhere",
    "corpus_negative_pairs": "negative sampling: LCG pick equi-joins the "
    "dense global_rank index (boundary-literal buckets, offsets "
    "broadcast); anchors×m rows shuffled, corpus never replicated",
    "dedup_sorted_neighborhood": "SNM blocking: neighbor candidates via an "
    "equi-join on (rank + k) over the boundary-literal distributed rank, "
    "whose shuffle carries only a 64-char prefix key — candidate count "
    "strictly N·window, no single-partition window, no cartesian product",
    "corpus_temperature_mix": "temperature mix: per-group counts broadcast "
    "back over one corpus scan; the keep decision is a pure integer "
    "compare — the corpus is never shuffled",
}

_DETAIL = re.compile(r"\(\d+\)|#\d+L?|\[plan_id=\d+\]")


def skeleton(plan: str, max_lines: int = 40) -> list[str]:
    """Operator tree with per-column details stripped: one line per
    physical operator, keeping the tree drawing characters."""
    out = []
    for line in plan.splitlines():
        if not line.strip():
            break  # stop at the details section of formatted output
        name = _DETAIL.sub("", line).rstrip()
        out.append(name)
    if len(out) > max_lines:
        out = out[: max_lines - 1] + [f"... ({len(out) - max_lines + 1} more)"]
    return out


def evidence(plan: str) -> list[str]:
    # PushedFilters/ReadSchema appear INLINE in each FileScan line (the
    # executed plan's toString never puts them line-initial)
    ev = []
    for m in re.finditer(r"PushedFilters: \[[^\]]*\]", plan):
        ev.append(m.group(0)[:200])
    for m in re.finditer(r"ReadSchema: \S+", plan):
        ev.append(m.group(0)[:200])
    counters = {
        "Exchange hashpartitioning": plan.count("Exchange hashpartitioning"),
        "Exchange rangepartitioning": plan.count("Exchange rangepartitioning"),
        "BroadcastHashJoin": plan.count("BroadcastHashJoin"),
        "SortMergeJoin": plan.count("SortMergeJoin"),
        "BroadcastNestedLoopJoin": plan.count("BroadcastNestedLoopJoin"),
        "CartesianProduct": plan.count("CartesianProduct"),
        "WholeStageCodegen spans": len(re.findall(r"\*\(\d+\)", plan)),
    }
    ev.append(
        "counters: "
        + ", ".join(f"{k}={v}" for k, v in counters.items() if v or k != "CartesianProduct")
    )
    return ev


def plan_section(plan: str) -> list[str]:
    return (
        ["```", *skeleton(plan), "```", "", "Evidence:", ""]
        + [f"- `{e}`" for e in evidence(plan)]
        + [""]
    )


def main() -> None:
    spark = get_spark("plan-audit")
    frame = type(spark.range(1))  # the concrete (classic) DataFrame class
    checkpoint = frame.localCheckpoint
    checkpointed: list[str] = []

    def capturing(self, *args, **kwargs):
        checkpointed.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    frame.localCheckpoint = capturing
    lines = [
        "# Plan audit — captured physical plans for the scale claims",
        "",
        "Generated by `scripts/gen_plan_audit.py` at sf0.01 (plans are",
        "data-size-independent apart from AQE's runtime join demotions;",
        "broadcast choices shown here hold whenever the build side fits",
        "`spark.sql.autoBroadcastJoinThreshold`; queries whose CLAIM is",
        "about which side broadcasts are captured at sf0.1 instead, where",
        "the fact side exceeds the threshold). The load-bearing",
        "properties are ALSO asserted in `tests/test_plan_properties.py`;",
        "this file shows the full operator tree each assertion lives in.",
        "",
    ]
    for name, claim in AUDITED.items():
        overrides = CONF_OVERRIDE.get(name, {})
        saved = {k: spark.conf.get(k) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        checkpointed.clear()
        df = QUERIES[name](spark, SF_OVERRIDE.get(name, SF))
        plan = df._jdf.queryExecution().executedPlan().toString()
        for k, v in saved.items():
            spark.conf.set(k, v)
        lines += [f"## {name}", "", f"**Claim:** {claim}", ""]
        lines += plan_section(plan)
        for i, cp_plan in enumerate(checkpointed, 1):
            lines += [
                f"Checkpointed while building ({i} of {len(checkpointed)}):",
                "",
            ]
            lines += plan_section(cp_plan)
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "PLANS.md",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}: {len(AUDITED)} plans")


if __name__ == "__main__":
    main()
