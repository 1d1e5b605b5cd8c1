"""Deterministic sampling/split operators (operators/sampling.py).

The property under test everywhere: selection depends only on
(seed, key value) — never on partitioning, run order, or RNG state.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from v6spark.operators import sampling
from v6spark.sources.tables import load_table


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_hash_split_partitions_every_row_once(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    total = docs.count()
    frames = sampling.split_frames(
        docs, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1}
    )
    counts = {lbl: f.count() for lbl, f in frames.items()}
    assert sum(counts.values()) == total
    # Proportions are approximate (hash uniformity over 500 docs) but
    # the ordering must hold and nothing may be empty or near-total.
    assert counts["train"] > counts["valid"] > 0
    assert counts["train"] > counts["test"] > 0
    assert 0.7 <= counts["train"] / total <= 0.9


def test_hash_split_stable_under_repartitioning(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    weights = {"a": 0.5, "b": 0.5}
    base = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(docs, "doc_id", weights).collect()
    }
    shuffled = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(
            docs.repartition(7, "lang"), "doc_id", weights
        ).collect()
    }
    assert base == shuffled


def test_hash_split_seed_changes_assignment(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    weights = {"a": 0.5, "b": 0.5}
    s0 = sampling.hash_split(docs, "doc_id", weights, seed=0)
    s1 = sampling.hash_split(docs, "doc_id", weights, seed=1)
    moved = (
        s0.alias("l")
        .join(s1.alias("r"), "doc_id")
        .filter(F.col("l.split") != F.col("r.split"))
        .count()
    )
    assert moved > 0  # different seed => a genuinely different split


def test_hash_split_is_narrow(spark, sf_dir):
    plan = sampling.hash_split(
        _docs(spark, sf_dir), "doc_id", {"train": 0.9, "test": 0.1}
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: one scan at any scale


def test_hash_sample_nested_and_deterministic(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    small = sampling.hash_sample(docs, "doc_id", 0.2, seed=7)
    big = sampling.hash_sample(docs, "doc_id", 0.6, seed=7)
    n_small, n_big = small.count(), big.count()
    assert 0 < n_small < n_big < docs.count()
    # Nested: the 20% sample is a subset of the 60% sample.
    assert small.join(big, "doc_id", "left_anti").count() == 0
    # Deterministic: re-evaluation selects the identical id set.
    again = sampling.hash_sample(docs, "doc_id", 0.2, seed=7)
    assert sorted(r["doc_id"] for r in small.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in again.select("doc_id").collect()
    )


def test_stratified_sample_exact_counts(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    n = 5
    sample = sampling.stratified_sample_exact(docs, ["lang"], n, "doc_id")
    got = {
        r["lang"]: r["cnt"]
        for r in sample.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    sizes = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    assert set(got) == set(sizes)
    for lang, size in sizes.items():
        assert got[lang] == min(n, size)
    # Deterministic id selection on re-run.
    again = sampling.stratified_sample_exact(docs, ["lang"], n, "doc_id")
    assert sorted(r["doc_id"] for r in sample.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_hash_split_rejects_bad_weights(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    for bad in ({}, {"a": 0.0}, {"a": -1.0, "b": 1.0}):
        try:
            sampling.hash_split(docs, "doc_id", bad)
        except ValueError:
            continue
        raise AssertionError(f"weights {bad} should be rejected")


def test_rebalance_mix_hits_target_proportions(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # documents.source has a handful of values; rebalance to a skewed mix.
    sources = [r["source"] for r in docs.select("source").distinct().collect()]
    assert len(sources) >= 2
    a, b = sorted(sources)[:2]
    out = sampling.rebalance_mix(
        docs, "source", {a: 0.75, b: 0.25}, key="doc_id"
    )
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # only the targeted strata survive
    assert set(counts) <= {a, b}
    total = sum(counts.values())
    assert total > 0
    # expected-value sampling: within a loose tolerance of the target
    assert abs(counts[a] / total - 0.75) < 0.15
    # the binding stratum is kept whole or near-whole: max retention
    orig = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    t_max = min(orig[a] / 0.75, orig[b] / 0.25)
    binding = a if t_max == orig[a] / 0.75 else b
    assert counts[binding] >= 0.85 * orig[binding]


def test_rebalance_mix_deterministic_and_nested(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sources = sorted(r["source"] for r in docs.select("source").distinct().collect())
    a, b = sources[:2]
    w = {a: 0.5, b: 0.5}
    first = {r["doc_id"] for r in sampling.rebalance_mix(docs, "source", w, "doc_id").collect()}
    second = {
        r["doc_id"]
        for r in sampling.rebalance_mix(
            docs.repartition(7), "source", w, "doc_id"
        ).collect()
    }
    assert first == second


def test_rebalance_mix_rejects_unknown_stratum(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    import pytest

    with pytest.raises(ValueError, match="absent"):
        sampling.rebalance_mix(docs, "source", {"no_such_source": 1.0}, "doc_id")


def test_split_leakage_report(spark):
    """Straddling pairs are reported; co-split pairs are not; the
    near-dedup pipeline output audits clean end-to-end."""
    from v6spark.operators.sampling import split_leakage_report

    assign = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train")],
        "doc_id long, split string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long"
    )
    got = [tuple(r) for r in split_leakage_report(assign, pairs).collect()]
    assert got == [(1, 2, "train", "test")]

    # end-to-end law: after prepare_training_corpus(near_dedup=True),
    # no near-dup pair can straddle splits (the survivors of a cluster
    # are a single doc, so the pair relation over survivors is empty
    # at the dedup radius)
    from v6spark.operators import dedup
    from v6spark.pipeline import prepare_training_corpus

    tmpl = "the quick brown fox jumps over the lazy dog and runs very far away"
    docs = spark.createDataFrame(
        [(i, f"unique document number {i} about topic {i} with distinct words") for i in range(8)]
        + [(100 + i, tmpl + f" {w}") for i, w in enumerate(("today", "tonight", "tomorrow"))],
        "doc_id long, text string",
    )
    out = prepare_training_corpus(
        docs, max_tokens=32, near_dedup=True, min_jaccard=0.5,
        split_weights={"train": 0.5, "test": 0.5},
    )
    survivors = out.select("doc_id", "split")
    sig = dedup.near_dup_report(
        docs.join(survivors.select("doc_id"), "doc_id", "left_semi"),
        n_hashes=32, bands=8, include_edit=False,
    ).filter(F.col("est_jaccard") >= 0.5)
    leaks = split_leakage_report(survivors, sig.select("id_a", "id_b"))
    assert leaks.count() == 0
