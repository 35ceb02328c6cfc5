"""Round-19 optimization pins: each rewrite that changed an operator's
internals is held bit-equal to the formulation it replaced, on frames
built to hit the edge cases (NULL keys, ties, NULL measure values).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tfm_taxitrips_spark.operators.prefix import (
    two_phase_prefix_sum,
    two_phase_prefix_sums,
)


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=str)


def test_tpps_multi_equals_stacked_single_calls(spark):
    """two_phase_prefix_sums == two stacked two_phase_prefix_sum calls,
    column for column (the ks_split_drift / quantile_drift_gate rewrite),
    including a NULL partition key and NULL values — and when a later
    pair's ``val_col`` is an earlier pair's ``out_col``, every sum still
    reads the INPUT column (the stacked reference runs in the order
    where no call reads another's output)."""
    data = [
        ("a", 0, 1, 10, 1), ("a", 0, 2, None, 2), ("a", 1, 3, 30, None),
        (None, 0, 1, 5, 7), (None, 1, 2, 6, 8), ("b", 2, 9, 1, 1),
    ]
    df = spark.createDataFrame(
        data, "p string, rng int, v long, x long, y long")
    single = two_phase_prefix_sum(
        df, partition_cols=("p",), bucket_col="rng", order_cols=("v",),
        val_col="x", out_col="cx")
    single = two_phase_prefix_sum(
        single, partition_cols=("p",), bucket_col="rng", order_cols=("v",),
        val_col="y", out_col="cy")
    multi = two_phase_prefix_sums(
        df, partition_cols=("p",), bucket_col="rng", order_cols=("v",),
        cols=[("x", "cx"), ("y", "cy")])
    assert _rows(single) == _rows(multi)
    assert [f.name for f in single.schema] == [f.name for f in multi.schema]

    # colliding names: x's running sum overwrites y, while cy sums input y
    single = two_phase_prefix_sum(
        df, partition_cols=("p",), bucket_col="rng", order_cols=("v",),
        val_col="y", out_col="cy")
    single = two_phase_prefix_sum(
        single, partition_cols=("p",), bucket_col="rng", order_cols=("v",),
        val_col="x", out_col="y")
    multi = two_phase_prefix_sums(
        df, partition_cols=("p",), bucket_col="rng", order_cols=("v",),
        cols=[("x", "y"), ("y", "cy")])
    assert _rows(single) == _rows(multi)
    assert [f.name for f in single.schema] == [f.name for f in multi.schema]


def test_survivorship_struct_extrema_match_windows(spark):
    """The two-level aggregate encodes the old row_number tie-breaks
    exactly: longest = (n_chars DESC NULLS LAST, doc_id ASC); majority =
    (count DESC, lang ASC NULLS FIRST)."""
    data = [
        # lang tie with NULL lang inside the tie
        (1, 10, None, 5), (1, 11, "en", 7), (1, 12, "en", 7), (1, 13, None, 2),
        # all-NULL n_chars cluster
        (2, 20, "de", None), (2, 21, "de", None), (2, 22, "fr", None),
        # NULL n_chars mixed with values + n_chars tie
        (3, 30, "es", None), (3, 31, "es", 4), (3, 32, "pt", 4),
        (4, 40, "en", 1),
    ]
    base = spark.createDataFrame(
        data, "cluster_id long, doc_id long, lang string, n_chars long")

    w_len = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc())
    longest = (
        base.withColumn("rn", F.row_number().over(w_len))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("longest_doc_id"))
    )
    w_lang = Window.partitionBy("cluster_id").orderBy(
        F.col("c").desc(), F.col("lang").asc())
    majority = (
        base.groupBy("cluster_id", "lang").agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w_lang))
        .where(F.col("rn") == 1)
        .select("cluster_id", F.col("lang").alias("majority_lang"))
    )
    old = longest.join(majority, "cluster_id")

    lvl1 = base.groupBy("cluster_id", "lang").agg(
        F.count(F.lit(1)).alias("_c"),
        F.max(F.struct(F.col("n_chars").alias("nc"),
                       (-F.col("doc_id")).alias("nid"))).alias("_len"),
    )
    new = lvl1.groupBy("cluster_id").agg(
        (-F.max("_len")["nid"]).alias("longest_doc_id"),
        F.min(F.struct((-F.col("_c")).alias("nc"),
                       F.col("lang").alias("lang")))["lang"]
        .alias("majority_lang"),
    )
    assert _rows(old.select("cluster_id", "longest_doc_id", "majority_lang")) \
        == _rows(new.select("cluster_id", "longest_doc_id", "majority_lang"))


def test_argmax_struct_equals_max_then_filter(spark):
    """The ks_split_drift single-pass argmax: max(struct(dev, -v)) picks
    max dev and, among ties, the SMALLEST v — the old two-pass
    max-then-filter + min(v) semantics."""
    data = [(5, 100), (9, 40), (9, 20), (3, 1), (9, 90)]
    df = spark.createDataFrame(data, "dev long, v long")
    maxd = df.agg(F.max("dev").alias("m"))
    old = (
        df.crossJoin(maxd).where(F.col("dev") == F.col("m"))
        .agg(F.min("v").alias("at"), F.first("m").alias("dev"))
        .collect()[0]
    )
    m = df.agg(F.max(F.struct(F.col("dev").alias("dev"),
                              (-F.col("v")).alias("nv"))).alias("m")) \
        .select(F.col("m.dev").alias("dev"), (-F.col("m.nv")).alias("at")) \
        .collect()[0]
    assert (old["at"], old["dev"]) == (m["at"], m["dev"]) == (20, 9)


def test_merged_rank_lookup_equals_two_pass(spark):
    """The exact_grouped_median merged lo/hi lookup: one filtered pass
    with conditional MINs == the two per-rank passes."""
    rows = []
    for et, vals in [("a", [1, 2, 3, 4]), ("b", [7]), (None, [5, 5, 9])]:
        counts = {}
        for v in vals:
            counts[v] = counts.get(v, 0) + 1
        cum = 0
        for v in sorted(counts):
            cum += counts[v]
            rows.append((et, v, cum, len(vals)))
    cum_df = spark.createDataFrame(
        rows, "event_type string, cents long, cum_le long, n long")
    r_lo = F.expr("(n + 1) div 2")
    r_hi = F.expr("n div 2 + 1")
    old = cum_df.groupBy("event_type").agg(
        (F.min(F.when(F.col("cum_le") >= r_lo, F.col("cents")))
         + F.min(F.when(F.col("cum_le") >= r_hi, F.col("cents"))))
        .alias("m2"))
    lo = (cum_df.where(F.col("cum_le") >= r_lo).groupBy("event_type")
          .agg(F.min("cents").alias("lo")))
    hi = (cum_df.where(F.col("cum_le") >= r_hi).groupBy("event_type")
          .agg(F.min("cents").alias("hi")))
    two = lo.join(hi, lo["event_type"].eqNullSafe(hi["event_type"])) \
        .select(lo["event_type"], (F.col("lo") + F.col("hi")).alias("m2"))
    assert _rows(old) == _rows(two)
    # and the known medians: a -> 2+3, b -> 7+7, NULL group -> 5+5
    got = {r["event_type"]: r["m2"] for r in old.collect()}
    assert got == {"a": 5, "b": 14, None: 10}


def test_setsim_min_token_emission_matches_distinct(spark, sf_smoke):
    """The exactly-once candidate emission (keep a pair only in its
    MINIMUM common prefix token's bucket) equals the old
    emit-per-shared-token + global distinct, and is duplicate-free by
    construction."""
    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.functions.text import ascii_lower
    from tfm_taxitrips_spark.operators.pairs import bucket_pairs
    from tfm_taxitrips_spark.operators.partitioning import fan_out
    from tfm_taxitrips_spark.operators.prefix import two_phase_prefix_sum
    from tfm_taxitrips_spark.queries.text import (
        SETSIM_TAU_DEN,
        SETSIM_TAU_NUM,
    )
    from tfm_taxitrips_spark.sources.readers import table

    docs = fan_out(table(spark, sf_smoke, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.split(ascii_lower(F.col("text")), " "))).alias("t"))
    df_t = (toks.groupBy("t").agg(F.count(F.lit(1)).alias("df_t"))
            .localCheckpoint(eager=False))
    ranked = two_phase_prefix_sum(
        df_t.withColumn("_one", F.lit(1)), bucket_col="df_t",
        order_cols=["t"], val_col="_one", out_col="rk",
    ).select("t", F.col("rk").cast("bigint").alias("rk"))
    doc_arr = (
        toks.join(ranked, "t").groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("rk")).alias("ts"))
        .select(
            "doc_id", "ts", F.size("ts").alias("s"),
            F.slice("ts", 1, F.expr(
                f"size(ts) - ((({SETSIM_TAU_NUM} * size(ts))"
                f" + {SETSIM_TAU_DEN} - 1) div {SETSIM_TAU_DEN}) + 1"
            )).alias("prefix"))
        .localCheckpoint(eager=False)
    )
    ratio = lambda a, b: (  # noqa: E731
        F.lit(SETSIM_TAU_DEN) * F.least(a["s"], b["s"])
        >= F.lit(SETSIM_TAU_NUM) * F.greatest(a["s"], b["s"]))
    old = (
        bucket_pairs(
            doc_arr.select("doc_id", "s", F.explode("prefix").alias("t")),
            ["t"], F.struct("doc_id", "s"), pair_filter=ratio,
            strategy="join")
        .select(F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.b.doc_id").alias("doc_b")).distinct()
    )
    new = (
        bucket_pairs(
            doc_arr.select("doc_id", "s", "prefix",
                           F.explode("prefix").alias("t")),
            ["t"], F.struct("doc_id", "s", "prefix"),
            pair_filter=lambda a, b: ratio(a, b) & (
                F.col("t") == F.array_min(
                    F.array_intersect(a["prefix"], b["prefix"]))),
            strategy="join")
        .select(F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.b.doc_id").alias("doc_b"))
    )
    n_new = new.count()
    assert n_new == new.distinct().count()  # duplicate-free emission
    assert n_new == old.count()
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


@pytest.mark.parametrize("n", [0, 1])
def test_survivorship_runs_on_fixture(spark, sf_smoke, n):
    """End-to-end smoke on the committed fixture (exercises the real
    two-level aggregate incl. the CC-cluster join); n_members is
    non-null by schema, covering every corpus doc exactly once."""
    if n:  # one parametrization exercises the schema-only path cheaply
        from tfm_taxitrips_spark.queries.dataprep import q_dedup_survivorship

        out = q_dedup_survivorship(spark, sf_smoke)
        assert [f.name for f in out.schema] == [
            "cluster_id", "n_members", "golden_doc_id", "max_chars",
            "longest_doc_id", "majority_lang"]
        assert not out.schema["n_members"].nullable
    else:
        from tfm_taxitrips_spark.queries.dataprep import q_dedup_survivorship
        from tfm_taxitrips_spark.sources.readers import table

        out = q_dedup_survivorship(spark, sf_smoke).agg(
            F.sum("n_members").alias("n")).collect()[0]["n"]
        n_docs = table(spark, sf_smoke, "documents").count()
        assert out == n_docs


def test_complete_drain_restores_no_data_batch_conf(spark, sf_smoke):
    """The complete-mode drain's scoped no-data-micro-batch skip and its
    state-partition count must both restore the session conf, and the
    drained complete-mode result must match the batch answer — the
    no-data batch cannot change a complete-mode sink."""
    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.queries.streamq import q_stream_window_rollup
    from tfm_taxitrips_spark.sources.readers import table

    keys = ("spark.sql.streaming.noDataMicroBatches.enabled",
            "spark.sql.shuffle.partitions")
    prev = {k: spark.conf.get(k) for k in keys}
    out = q_stream_window_rollup(spark, sf_smoke)
    assert {k: spark.conf.get(k) for k in keys} == prev
    n_stream = out.agg(F.sum("n_events")).collect()[0][0]
    n_batch = table(spark, sf_smoke, "events").where(
        F.col("ts").isNotNull()).count()
    assert n_stream == n_batch
