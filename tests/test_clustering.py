"""Unit tests for the connected-components operator (near-dup clustering)."""

from __future__ import annotations

import pytest

from tfm_taxitrips_spark.operators import clustering
from tfm_taxitrips_spark.operators.clustering import connected_components


def _cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "src long, dst long")
    rows = connected_components(edges).collect()
    return {r["node"]: r["comp"] for r in rows}


def test_chain_collapses_to_min(spark):
    # 1-2, 2-3, 3-4: one component, min id 1, needs >1 propagation round
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_cycle_terminates(spark):
    got = _cc(spark, [(5, 6), (6, 7), (7, 5)])
    assert got == {5: 5, 6: 5, 7: 5}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (10, 11), (11, 12)])
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_long_chain_converges(spark):
    # diameter 9: exercises several propagation rounds + lineage truncation
    pairs = [(i, i + 1) for i in range(20, 30)]
    got = _cc(spark, pairs)
    assert got == {i: 20 for i in range(20, 31)}


def test_duplicate_and_reversed_edges(spark):
    got = _cc(spark, [(2, 1), (1, 2), (2, 1)])
    assert got == {1: 1, 2: 1}


def test_recall_gate_discriminates_index_designs(spark, sf_smoke):
    """The recall@k eval must DISCRIMINATE, not merely report: on the
    uniform-random fixture (adversarial for hyperplane LSH — no cluster
    structure) IVF-with-rerank retains substantial recall while LSH sits
    at ≈0. Measured: LSH 0.0, IVF ≈0.42 at sf0.001. A gate that scored
    both paths alike would be decoration; this pin is what makes
    ann_recall_eval(_ivf) an acceptance test for a 100 TB index choice."""
    import pyspark.sql.functions as F

    from tfm_taxitrips_spark.queries.vectors import (
        q_ann_recall_eval,
        q_ann_recall_eval_ivf,
    )

    def overall(df):
        return df.agg(
            (F.sum("n_hits") / F.sum("n_brute")).alias("r")
        ).collect()[0].r

    lsh = overall(q_ann_recall_eval(spark, sf_smoke))
    ivf = overall(q_ann_recall_eval_ivf(spark, sf_smoke))
    assert ivf >= 0.25, f"IVF recall collapsed: {ivf}"
    assert ivf > lsh + 0.2, f"gate does not discriminate: ivf={ivf} lsh={lsh}"


def test_kmeans_lineage_truncation(spark, sf_smoke):
    """localCheckpoint knob (round-3 verdict item #8): (a) results are
    bit-identical with and without truncation at equal iteration count;
    (b) with truncate_every=2 a 10-iteration run's final-plan size stays
    BELOW the untruncated 6-iteration plan — i.e. lineage no longer grows
    with iterations, so analysis cost is bounded at any iteration count."""
    from tfm_taxitrips_spark.queries.vectors import kmeans_clustering

    base = {
        tuple(sorted((r.cid, r.n_members, r.member_checksum) for r in
                     kmeans_clustering(spark, sf_smoke, iters=4).collect()))
    }
    trunc = {
        tuple(sorted((r.cid, r.n_members, r.member_checksum) for r in
                     kmeans_clustering(spark, sf_smoke, iters=4,
                                       truncate_every=2).collect()))
    }
    assert base == trunc

    def plan_size(df):
        return len(df._jdf.queryExecution().analyzed().toString())

    grown = plan_size(kmeans_clustering(spark, sf_smoke, iters=6))
    bounded = plan_size(kmeans_clustering(spark, sf_smoke, iters=10,
                                          truncate_every=2))
    assert bounded < grown, (bounded, grown)


def test_centroid_shift_matches_float_reference(spark, sf_smoke):
    """The exact-rational shift_num must equal a naive float computation
    of the milli-quantized centroid distance, scaled by (n_a*n_b)^2 —
    recomputed per label from collected vectors."""
    from collections import defaultdict

    from tfm_taxitrips_spark.queries.vectors import q_centroid_shift
    from tfm_taxitrips_spark.sources.readers import table
    import math

    emb = table(spark, sf_smoke, "embeddings").collect()
    sums = defaultdict(lambda: [0, None, 0, None])  # n_a, s_a[], n_b, s_b[]
    for r in emb:
        milli = [math.floor(float(x) * 1000.0) for x in r.embedding]
        slot = 0 if r.vec_id % 2 == 0 else 2
        rec = sums[r.label]
        rec[slot] += 1
        if rec[slot + 1] is None:
            rec[slot + 1] = [0] * len(milli)
        rec[slot + 1] = [a + b for a, b in zip(rec[slot + 1], milli)]
    rows = q_centroid_shift(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        n_a, s_a, n_b, s_b = sums[r.label]
        assert (r.n_a, r.n_b) == (n_a, n_b)
        expect = sum((sa * n_b - sb * n_a) ** 2 for sa, sb in zip(s_a, s_b))
        assert r.shift_num == expect


def test_round_cap_raises(spark, monkeypatch):
    # a chain longer than the cap must fail loudly, not return partial labels
    monkeypatch.setattr(clustering, "MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge within 2 rounds"):
        _cc(spark, [(i, i + 1) for i in range(20, 30)])
