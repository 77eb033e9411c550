"""Query-registry sanity at sf0.001: every registered query runs and
returns a well-formed DataFrame; every oracle key has a query; the entry
point produces the flagship result."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from lakehouse_architecture_spark.queries import ORACLES, QUERIES


def test_registry_shape():
    assert len(QUERIES) >= 40
    assert set(ORACLES) <= set(QUERIES)
    # the vast majority must be oracle-checked, not rows-only
    assert len(ORACLES) >= 0.8 * len(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.columns
    assert df.count() >= 0


# Registry queries that persist through one-slot caches, grouped so
# that queries sharing a slot over the same relation sit together.
SLOT_GROUPS = [
    ["lineitem_winsorized_price_stats"],
    ["events_value_quantile_rollup"],
    [
        "parts_coorder_triangles",
        "parts_coorder_kcore",
        "parts_coorder_core_numbers",
        "parts_coorder_ppr",
        "parts_coorder_link_prediction",
    ],
    ["orders_bloom_prune_stats"],
    ["lineitem_key_skew_profile"],
    ["events_kmv_intersection_qa"],
    ["events_kmv_daily_rollup"],
    ["events_kmv_new_vs_returning"],
    ["events_chi2_type_dow"],
    ["events_stickiness_ratio"],
    ["events_value_quantile_rollup_by_type"],
    ["docs_bigram_cross_entropy"],
    ["emb_semantic_dedup"],
    ["minhash_lsh_near_dups"],
    [
        "minhash_estimate_qa",
        "minhash_recall_curve",
        "docs_prefix_filter_jaccard_join",
        "docs_prefix_filter_jaccard_join_strict",
    ],
    ["simhash_near_pairs"],
    [
        "docs_ngram_jaccard_pairs",
        "docs_overlap_coefficient_pairs",
        "docs_dup_components",
        "docs_dedup_keep_best",
        "docs_dup_cluster_size_histogram",
    ],
    ["docs_incremental_near_dups"],
    ["customers_fuzzy_name_stats"],
    ["customers_fuzzy_pairs_d2", "customers_fuzzy_pairs_d2_capped"],
    ["docs_prefix_fuzzy_pairs_d2"],
    ["customers_entity_resolution"],
    [
        "docs_shared_span_pairs",
        "docs_copied_span_profile",
        "docs_incremental_copied_spans",
    ],
    ["docs_curation_funnel"],
]


@pytest.mark.parametrize("group", SLOT_GROUPS, ids=lambda g: g[0])
def test_slots_warm_hit_on_rebuild(spark, sf_dir, group):
    """Building a slot-persisting query a second time in one session,
    or building another query that shares its slot, hits the slot's
    warm relation: the held DataFrame object is unchanged. The slot
    derives that identity from the plan and its files; building is
    enough, no action is run here."""
    from lakehouse_architecture_spark.operators.caching import (
        _SLOTS,
        release_slots,
    )

    release_slots()
    held = {}
    try:
        for name in group + group:
            QUERIES[name](spark, sf_dir)
            now = {slot: df for slot, (_, df) in _SLOTS.items()}
            for slot, df in held.items():
                assert now.get(slot) is df, f"{name} rebuilt slot {slot}"
            assert now, f"{name} persisted nothing through a slot"
            held.update(now)
    finally:
        release_slots()


def test_entry(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_link_prediction_blocked_counts_match_global_aggregate(
    spark, sf_dir
):
    """The r17 block-pair cogroup rewrite of
    parts_coorder_link_prediction must return exactly the rows the
    global wedge-explode aggregate + anti-join + top-20 produces — the
    per-group top-20 cut is exact because any unordered pair's wedges
    all land in one (block, block) group and the output order is a
    strict total order (n_common DESC, pa, pb)."""
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    pairs = F.expr(
        "flatten(transform(p, (x, i) -> "
        "transform(slice(p, i + 2, size(p)), "
        "y -> struct(x AS src, y AS dst))))"
    )
    und = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("p"))
        .select(F.explode(pairs).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
    )
    adj = und.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).unionAll(
        und.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    )
    nbrs = adj.groupBy("node").agg(
        F.sort_array(F.collect_set("nbr")).alias("nb")
    )
    wedge_pairs = F.expr(
        "flatten(transform(nb, (x, i) -> "
        "transform(slice(nb, i + 2, size(nb)), "
        "y -> struct(x AS pa, y AS pb))))"
    )
    cn = (
        nbrs.filter(F.size("nb") <= 128)
        .select(F.explode(wedge_pairs).alias("w"))
        .groupBy(F.col("w.pa").alias("pa"), F.col("w.pb").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    nonadj = cn.join(
        und, (cn.pa == und.src) & (cn.pb == und.dst), "left_anti"
    )
    want = [
        (r.pa, r.pb, r.n_common)
        for r in nonadj.orderBy(F.desc("n_common"), "pa", "pb")
        .limit(20)
        .collect()
    ]
    got = [
        (r.part_a, r.part_b, r.n_common)
        for r in QUERIES["parts_coorder_link_prediction"](spark, sf_dir)
        .orderBy(F.desc("n_common"), "part_a", "part_b")
        .collect()
    ]
    assert got == want
