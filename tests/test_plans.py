"""Physical-plan quality gates (SURVEY.md §4 scale requirements).

These assert the plan SHAPE that makes the engine viable at 100 TB:
filters pushed into parquet scans, provably-small join sides broadcast,
top-k via TakeOrderedAndProject (never a global sort), and no Python
stages in pure-relational pipelines. A regression here is a performance
bug even while results stay correct.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.plans import registry

registry._load_all()
FIX = str(pathlib.Path(__file__).parent.parent / "fixtures" / "docs")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    df = registry.REGISTRY["bm25_topk"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    # probes the written postings_scored layout: one pruned scan, no joins
    assert "Join" not in plan
    assert "mapInPandas" not in plan and "BatchEvalPython" not in plan


def test_fts_probe_pushes_term_filter_to_parquet(spark, tmp_path):
    """Against a BUILT index the query-term filter must reach the postings
    parquet scan as a pushed filter (the 100 TB bound: scan cost tracks the
    matched postings slice, not the corpus)."""
    from duckdb_hybrid_doc_search_spark.index.builder import index_directories
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_scores

    out = str(tmp_path / "idx")
    index_directories(spark, [FIX], out)
    index = {
        t: spark.read.parquet(f"{out}/{t}")
        for t in ("postings", "docfreq", "docstats", "corpus_stats")
    }
    df = bm25_scores(index, ["deep", "nested"])
    plan = plan_of(df)
    assert "PushedFilters: [In(term" in plan.replace("`", "")


def test_tpch_q5_broadcasts_all_dimensions(spark, sf_dir):
    df = registry.REGISTRY["tpch_q5_region_revenue"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("BroadcastHashJoin") >= 4
    # the only shuffle join allowed is lineitem<->orders
    assert plan.count("SortMergeJoin") <= 1


def test_tpch_q1_pushes_date_filter(spark, sf_dir):
    df = registry.REGISTRY["tpch_q1_pricing_summary"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    assert "HashAggregate" in plan  # partial+final agg, not sort-based


def test_cosine_topk_stays_jvm_side(spark, sf_dir):
    df = registry.REGISTRY["cosine_topk"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_doc_fetch_pushes_in_list(spark, sf_dir):
    df = registry.REGISTRY["doc_fetch_by_ids"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters: [In(doc_id" in plan.replace("`", "")


def test_hybrid_search_no_cartesian(spark, sf_dir):
    df = registry.REGISTRY["hybrid_search_fused"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # the corpus_stats cross join must be a broadcast nested loop over ONE row
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_new_tpch_dimensions_broadcast(spark, sf_dir):
    """Round-2 TPC-H queries: every dimension side broadcasts; the fact
    table is never on a broadcast build side by plan construction."""
    for name, min_bhj in [
        ("tpch_q7_volume_shipping", 5),
        ("tpch_q8_market_share", 6),
        ("tpch_q17_small_qty_revenue", 2),
        ("tpch_q19_discounted_revenue", 1),
    ]:
        plan = plan_of(registry.REGISTRY[name].spark_fn(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= min_bhj, name
        assert plan.count("SortMergeJoin") == 0, name
        assert "CartesianProduct" not in plan, name


def test_q13_left_join_preserves_zero_order_customers(spark, sf_dir):
    """Q13's left outer must not degrade to inner (the zero-order bucket
    is the point of the query)."""
    from duckdb_hybrid_doc_search_spark.index.catalog import load_table

    df = registry.REGISTRY["tpch_q13_customer_distribution"].spark_fn(
        spark, sf_dir
    )
    rows = {r.c_count: r.custdist for r in df.collect()}
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    n_zero = customer.join(
        orders.select("o_custkey").distinct(),
        customer["c_custkey"] == orders["o_custkey"],
        "left_anti",
    ).count()
    # the inner-join degradation drops exactly this bucket
    assert rows.get(0, 0) == n_zero
    assert sum(rows.values()) == customer.count()


def test_curation_pipeline_no_python_stages(spark, sf_dir):
    """The composed curation keep-set is pure relational — no Python
    workers anywhere in the plan."""
    df = registry.REGISTRY["corpus_curation_pipeline"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Python" not in plan and "mapInPandas" not in plan


def test_jsonl_scan_prunes_columns(spark, sf_dir):
    """Projection pruning must reach the JSON scan: reading (id, score)
    only must not carry text/meta in the scan's ReadSchema."""
    from duckdb_hybrid_doc_search_spark.plans import pipeline_queries as pq
    from duckdb_hybrid_doc_search_spark.sources.jsonl import read_jsonl

    df = read_jsonl(spark, str(pq._JSONL_PATH)).select("id", "score")
    plan = plan_of(df)
    scan = plan[plan.index("FileScan"):].split("\n")[0]
    assert "text" not in scan


def test_embedding_dedup_single_shuffle_stage_shape(spark, sf_dir):
    """Block-pair GEMM: exactly one FlatMapGroupsInPandas (the per-block
    GEMM), no driver-side broadcast of the corpus in the plan."""
    df = registry.REGISTRY["dedup_embedding_cosine"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("FlatMapGroupsInPandas") == 1


def test_partsupp_synthesis_is_shuffle_free(spark, sf_dir):
    """The synthesized partsupp is a part-scan cross two broadcasts —
    no Exchange anywhere in its plan (the claim in relational.py)."""
    from duckdb_hybrid_doc_search_spark.index.catalog import load_table
    from duckdb_hybrid_doc_search_spark.operators.relational import \
        synth_partsupp

    ps = synth_partsupp(
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )
    plan = plan_of(ps)
    # no DATA shuffle: the only allowed Exchange is the 1-row
    # SinglePartition reduction of the supplier count
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("BroadcastExchange") == 2  # 4-row gen + count row


def test_tpch_q9_join_shape(spark, sf_dir):
    """Q9's only shuffle joins are lineitem<->orders and
    lineitem<->partsupp; every dimension side broadcasts."""
    df = registry.REGISTRY["tpch_q9_product_profit"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("SortMergeJoin") <= 2
    assert plan.count("BroadcastHashJoin") >= 3


def test_equi_depth_histogram_no_global_sort(spark, sf_dir):
    """Equi-depth buckets must come from distributed_ntile: no ntile (a
    single-partition sort of the fact table); the fact-table rank window
    is PARTITIONED by the range-slice id. The only unpartitioned window
    allowed is the bounded (≤ shuffle.partitions rows) counts rollup,
    identified by running over the _cnt aggregate."""
    df = registry.REGISTRY["lineitem_equi_depth_histogram"].spark_fn(
        spark, sf_dir
    )
    plan = plan_of(df)
    assert "ntile" not in plan
    assert "row_number() windowspecdefinition(_pid" in plan
    # every Window node either carries a partition spec or rides _cnt
    for line in plan.splitlines():
        line = line.strip().lstrip(":+- ")
        if line.startswith("Window ["):
            assert "windowspecdefinition(_pid" in line or "_cnt" in line


def test_rfm_segments_no_global_sort(spark, sf_dir):
    """Each RFM quartile rides distributed_ntile — no global ntile
    window, no unpartitioned exchange. The first two quartile passes sit
    behind their checkpoint boundaries, so the physical plan shows the
    final (monetary) pass: its local-rank window must be partitioned by
    the range-slice id."""
    df = registry.REGISTRY["customer_rfm_segments"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "ntile" not in plan
    assert plan.count("row_number() windowspecdefinition(_pid") == 1
    for line in plan.splitlines():
        line = line.strip().lstrip(":+- ")
        if line.startswith("Window ["):
            assert "windowspecdefinition(_pid" in line or "_cnt" in line


def test_hybrid_ivf_vss_prunes_cell_partitions(spark, sf_dir):
    """The IVF-served VSS branch must read only the probed cell
    partitions: PartitionFilters on `cell` in the layout scan, and no
    full-embeddings FileScan on the VSS side (the documents scan for
    display columns and the bounded centroid scan remain)."""
    from duckdb_hybrid_doc_search_spark.index.catalog import load_table
    from duckdb_hybrid_doc_search_spark.search.engine import ivf_vss_topk
    from duckdb_hybrid_doc_search_spark.models.embedder import hash_embed_text

    emb = load_table(spark, sf_dir, "embeddings")
    df = ivf_vss_topk(
        spark, emb, sf_dir, hash_embed_text("spark vector join"), 10
    )
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    assert "cell#" in plan[plan.index("PartitionFilters"):].split("]")[0]


def test_more_like_this_probe_is_single_pruned_scan(spark, sf_dir):
    """Phase 2 of more-like-this must look exactly like a user-query
    probe: ONE postings_scored scan with the seed terms pushed as an
    In(term, ...) filter, no joins, no Python stages."""
    df = registry.REGISTRY["search_more_like_this"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "In(term" in plan.replace(" ", "")
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan


def test_snippets_broadcast_hits_into_documents(spark, sf_dir):
    """The k-row hit set must be the broadcast side of the documents
    join — full text is read for k rows, never shuffled at corpus size."""
    df = registry.REGISTRY["search_snippets"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "In(term" in plan.replace(" ", "")


def test_cell_derived_marginals_scan_fact_once(spark, sf_dir):
    """KL / chi-square derive every marginal from a pinned cell
    aggregate: the final plan must reference the (checkpointed) cell
    table, NOT re-scan the fact parquet per marginal."""
    for name in ("corpus_kl_source_lang", "events_chi_square"):
        df = registry.REGISTRY[name].spark_fn(spark, sf_dir)
        plan = plan_of(df)
        assert "Scan parquet" not in plan, name
        assert "ExistingRDD" in plan, name


def test_bigram_pmi_reuses_pinned_count_tables(spark, sf_dir):
    """PMI joins/totals reuse the two pinned count tables — without the
    pin this plan tokenizes the corpus five times."""
    df = registry.REGISTRY["text_bigram_pmi"].spark_fn(spark, sf_dir)
    plan = plan_of(df)
    assert "Scan parquet" not in plan
    assert "BatchEvalPython" not in plan


def test_per_entity_windows_are_partitioned(spark, sf_dir):
    """TWAP / SCD2 / latest-per-user / cohort windows all partition by
    their entity key — no unpartitioned (single-partition) fact window."""
    cases = {
        "events_user_twap": "user_id",
        "events_latest_per_user": "user_id",
        "events_range_frame_sum": "user_id",
        "orders_scd2_intervals": "o_custkey",
        "orders_window_showcase": "o_custkey",
    }
    for name, key in cases.items():
        df = registry.REGISTRY[name].spark_fn(spark, sf_dir)
        plan = plan_of(df)
        for line in plan.splitlines():
            if "windowspecdefinition" in line.lower():
                assert key in line, f"{name}: unpartitioned window: {line[:120]}"


def test_mining_family_plan_shapes(spark, sf_dir):
    """Round-4 mining ops keep their scale-critical shapes:
    - basket pairs: per-order self-join (no cartesian), support filter
      before the item-count joins, top-N via TakeOrderedAndProject;
    - merge upsert: exactly one full-outer join, no Python stages;
    - spell suggest: tiny probe side broadcast (nested-loop is fine,
      cartesian of two large sides is not);
    - tfidf + decay avg: every window partitioned by its entity key."""
    plan = plan_of(registry.REGISTRY["basket_part_pairs"].spark_fn(
        spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan

    plan = plan_of(registry.REGISTRY["orders_merge_upsert"].spark_fn(
        spark, sf_dir))
    assert plan.count("FullOuter") == 1
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan

    plan = plan_of(registry.REGISTRY["search_spell_suggest"].spark_fn(
        spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    for name, key in {
        "text_tfidf_topk": "doc_id",
        "events_user_decay_avg": "user_id",
    }.items():
        plan = plan_of(registry.REGISTRY[name].spark_fn(spark, sf_dir))
        for line in plan.splitlines():
            if "windowspecdefinition" in line.lower():
                assert key in line, f"{name}: unpartitioned window: {line[:120]}"


def test_session_paths_plan_shape(spark, sf_dir):
    """Journey mining: session windows stay per-user partitioned, top-N
    via TakeOrderedAndProject, no Python stages."""
    plan = plan_of(registry.REGISTRY["events_session_paths"].spark_fn(
        spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "user_id" in line, f"unpartitioned window: {line[:120]}"


def test_partition_prune_probe_has_partition_filters(spark, sf_dir):
    """The hive-partitioned probe must prune at the directory level:
    PartitionFilters on o_year in the scan, and only the matched year
    directories' files opened."""
    import os

    from duckdb_hybrid_doc_search_spark.plans import layout_queries as lq

    # materialize the layout (cached per fingerprint), then inspect the
    # probe's scan node
    lq.orders_partition_prune_stats(spark, sf_dir).collect()
    from duckdb_hybrid_doc_search_spark.index.catalog import load_table
    from duckdb_hybrid_doc_search_spark.index.fingerprint import (
        layout_fingerprint, warehouse_root,
    )
    orders = load_table(spark, sf_dir, "orders")
    fp = layout_fingerprint(orders, "o_orderkey")
    sf = os.path.basename(os.path.normpath(sf_dir)) or "default"
    outdir = os.path.join(warehouse_root("layout_metrics"),
                          f"{sf}-opart1-{fp}")
    lo, hi = lq.PRUNE_YEARS
    pruned = spark.read.parquet(outdir).where(
        (F.col("o_year") >= lo) & (F.col("o_year") <= hi)
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_year" in plan


def test_doc100x_probe_plan_survives_scale(spark, sf_dir, tmp_path):
    """DOC100X at CI scale (the full 500k-doc probe lives in
    tools/scale_probe.py): the corpus grown 100x with token-prefixed
    filler copies (no filler doc can match the query terms), the FTS
    layout built over it, and the probe plan checked AT SIZE — the
    term filter must still reach the postings parquet scan and the
    top-k must still be TakeOrderedAndProject, and every returned hit
    must come from the original corpus (a probe that matched filler
    would mean tokenization or pruning broke)."""
    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        ensure_fts_layout)
    from duckdb_hybrid_doc_search_spark.operators.bm25 import (
        bm25_topk_from_index)
    from duckdb_hybrid_doc_search_spark.plans.doc_search_queries import (
        QUERY, TOP_K)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    shift = docs.agg(F.max("doc_id")).first()[0] + 1
    filler = docs.withColumn(
        "text", F.regexp_replace("text", r"(\w+)", r"zq$1")
    )
    big = docs
    for i in range(1, 100):
        big = big.unionByName(
            filler.withColumn("doc_id", F.col("doc_id") + F.lit(i * shift))
        )
    big_dir = str(tmp_path / "docs100x")
    big.write.mode("overwrite").parquet(f"{big_dir}/documents.parquet")
    d = spark.read.parquet(f"{big_dir}/documents.parquet")
    index = ensure_fts_layout(spark, d, big_dir,
                              root=str(tmp_path / "layouts"))
    probe = bm25_topk_from_index(index, QUERY, TOP_K)
    plan = plan_of(probe).replace("`", "")
    assert "PushedFilters: [In(term" in plan, "pushdown lost at 100x"
    assert "TakeOrderedAndProject" in plan, "top-k fell back to global sort"
    hits = probe.collect()
    assert hits, "probe returned nothing at 100x"
    assert all(r["doc_id"] < shift for r in hits), \
        "probe matched token-prefixed filler docs"
