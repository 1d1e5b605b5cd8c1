"""Physical-plan regression tests — the 100 TB design gate.

Correctness says the answer is right at sf0.01; these assertions say
the PLAN would still be right at 1000x: predicates reach the parquet
scan, scans read only needed columns, dimension joins broadcast
instead of shuffling the fact side, top-k never global-sorts, and no
declared query falls back to row-at-a-time Python.
"""

from __future__ import annotations

import pytest

from v6spark.plans import REGISTRY


def plan_of(spark, name, sf_dir) -> str:
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def read_schemas(plan: str) -> list[str]:
    return [l.split("ReadSchema:", 1)[1] for l in plan.splitlines() if "ReadSchema:" in l]


def test_predicates_push_to_scan(spark, sf_dir):
    plan = plan_of(spark, "q_filter_pred", sf_dir)
    assert "GreaterThan(l_quantity,30.0)" in plan
    assert "GreaterThanOrEqual(l_discount,0.02)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    # 5 of 11 lineitem columns — the scan must not read the rest
    (schema,) = read_schemas(plan_of(spark, "q_scan_project", sf_dir))
    assert "l_orderkey" in schema and "l_discount" not in schema
    assert schema.count(":") == 5


def test_flagship_join_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(spark, "q_join_multi", sf_dir)
    # every dim side broadcast: the fact table is never shuffled for a
    # join (tree lines only — the detail section repeats node names)
    assert plan.count("BroadcastHashJoin Inner BuildRight") == 4
    assert "SortMergeJoin" not in plan
    # fact scan pruned to join key + revenue inputs
    fact_schema = read_schemas(plan)[0]
    assert fact_schema.count(":") == 3


def test_in_list_pushdown(spark, sf_dir):
    plan = plan_of(spark, "q_sample_subset", sf_dir)
    assert "In(user_id" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = plan_of(spark, "q_sort_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_semi_anti_join_shapes(spark, sf_dir):
    semi = plan_of(spark, "q_join_semi", sf_dir)
    anti = plan_of(spark, "q_join_anti", sf_dir)
    assert "LeftSemi" in semi and "LeftAnti" in anti


def test_range_tagging_is_narrow(spark, sf_dir):
    # disjoint literal ranges compile to a CASE chain — no join operator
    # of any kind; the fact side streams straight into the aggregate
    plan = plan_of(spark, "q_region_range_join", sf_dir)
    assert "Join" not in plan
    assert "CASE WHEN" in plan


@pytest.mark.parametrize(
    "name", sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
)
def test_no_python_in_declared_plans(name, spark, sf_dir):
    # oracle-checked queries must stay JVM-side end-to-end (SURVEY.md
    # §2.1: no UDFs in the declared set); Arrow-batched Python is
    # allowed only in the rows-only extras (SimHash bit votes) and the
    # multimodal kernels
    plan = plan_of(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_library_python_is_arrow_batched(spark, sf_dir):
    # the judged q_dedup_minhash is pure Catalyst; the library default
    # signature engine is the one Python stage in the near-dup surface,
    # and it must be vectorized, never row-at-a-time
    from v6spark.operators.dedup import near_dup_report
    from v6spark.sources.tables import load_table

    df = near_dup_report(load_table(spark, sf_dir, "documents"))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_simhash_pairs_is_bucket_join(spark, sf_dir):
    # Hamming-ball pair generation must be a hash join on the band
    # bucket key — never an all-pairs comparison (cartesian / nested
    # loop), and fully JVM-side
    from v6spark.operators.dedup import simhash_pairs, simhash_signature_portable
    from v6spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        simhash_pairs(simhash_signature_portable(docs), n_bits=60, radius=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan


def test_ann_topk_is_pruned_scan(spark, sf_dir):
    # query-time ANN: bucket IN-filter + exact cosine + top-k heap —
    # one narrow scan, no join, no global sort, no Python
    from v6spark.operators.similarity import ann_lsh_topk
    from v6spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = (
        ann_lsh_topk(emb, [0.1] * 64, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Python" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_percentile_is_rank_based(spark, sf_dir):
    # exact percentiles must NOT use Spark's `percentile` aggregate —
    # it buffers every group value in one aggregation buffer (executor
    # OOM at 100 TB group sizes).  The rank-based form shows up as a
    # Window (sort-based, spills gracefully) and no percentile node.
    plan = plan_of(spark, "q_measure_stats", sf_dir)
    assert "percentile" not in plan.lower()
    assert "Window" in plan


def test_bloom_filter_join_pruning_available(spark, sf_dir):
    # 100 TB posture: a selective filter on one side of a fact-fact
    # shuffle join injects a runtime bloom filter that prunes the big
    # side at the scan.  The size thresholds only trigger at cluster
    # scale, so this test simulates them via conf and asserts the
    # optimizer actually injects the filter under our session posture
    # (bloom stays enabled; broadcast is disabled to force the
    # fact-fact shuffle-join shape).
    from pyspark.sql import functions as F

    from v6spark.sources.tables import load_table

    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "10GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderstatus") == "P"
        )
        j = (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in optimized.lower()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_asof_single_window_shuffle(spark, sf_dir):
    # union+window as-of: exactly one hashpartitioning exchange for the
    # window (plus the final output ordering) — never a pairwise join
    plan = plan_of(spark, "q_join_asof", sf_dir)
    assert "Window" in plan
    assert "Join" not in plan  # no O(n x m) fallback


def test_repetition_signals_shuffle_census(spark, sf_dir):
    # Catalyst engine: the n-gram side must aggregate (partial+final)
    # before anything widens, and the only joins are doc-count sized
    # reattachments — never an n-gram-sized join; all-JVM.
    from v6spark.operators.text import repetition_signals
    from v6spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        repetition_signals(docs, engine="catalyst")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # doc-sized sides broadcast at sf
    # Arrow engine (default): ONE narrow Arrow-batched map — zero
    # shuffle, zero joins; the strictly better 100 TB shape.
    plan = (
        repetition_signals(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" in plan
    # only the small-input round-robin spread may exchange — no
    # hash/range shuffle, no aggregation, no join anywhere
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_contamination_corpus_never_shuffles_to_bench(spark, sf_dir):
    from v6spark.operators.contamination import contamination_report
    from v6spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    plan = (
        contamination_report(docs, bench, n=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the gram-membership join is a broadcast, not an exchange of the
    # exploded corpus grams
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_corpus_profile_one_expand_one_shuffle(spark, sf_dir):
    from v6spark.operators.profile import corpus_profile
    from v6spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        corpus_profile(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Expand") == 1
    # one hash-partition exchange for the rollup + the final sort's
    # range exchange — nothing else
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Python" not in plan


def test_shard_assignment_is_narrow(spark, sf_dir):
    from v6spark.operators.packing import assign_shards
    from v6spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = (
        assign_shards(docs, "doc_id", 64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Python" not in plan
