"""Round-18 optimization internals (OPTIMIZATION_r18.md).

These pin the *mechanisms* the r18 driver-overhead work introduced:
plan memoization must never change what executes, only how often the
driver rebuilds identical plans.
"""

from __future__ import annotations

import pytest

from tfm_taxitrips_spark.operators.partitioning import (
    _estimated_scan_partitions,
    fan_out,
)
from tfm_taxitrips_spark.queries import sqlsuite
from tfm_taxitrips_spark.sources.readers import table


def test_table_memo_same_plan_object(spark, sf_smoke):
    a = table(spark, sf_smoke, "nation")
    b = table(spark, sf_smoke, "nation")
    assert a is b, "same (session, sf_dir, name, raw) must reuse the plan"


def test_table_memo_key_distinguishes_raw_and_dir(spark, sf_smoke, sf_correct):
    base = table(spark, sf_smoke, "events")
    assert table(spark, sf_smoke, "events", raw=True) is not base
    assert table(spark, sf_correct, "events") is not base


def test_table_memo_reuse_still_scans_fresh(spark, sf_smoke):
    # the memo caches the PLAN; every action recomputes from parquet
    df = table(spark, sf_smoke, "region")
    assert df.count() == table(spark, sf_smoke, "region").count() == 5


def test_register_star_views_repoints_on_sf_dir_change(spark, sf_smoke, sf_correct):
    sqlsuite.register_star_views(spark, sf_smoke, ("region",))
    n_smoke = spark.sql("SELECT COUNT(*) c FROM region").collect()[0].c
    sqlsuite.register_star_views(spark, sf_correct, ("region",))
    n_correct = spark.sql("SELECT COUNT(*) c FROM region").collect()[0].c
    # both fixtures carry the 5-row region table; repoint must re-register
    # (observable via the plan's file location), not silently skip
    loc = spark.sql("SELECT * FROM region")._jdf.queryExecution().toString()
    assert sf_correct in loc and sf_smoke not in loc
    assert n_smoke == n_correct == 5


def test_referenced_tables_word_boundary():
    assert sqlsuite._referenced_tables(sqlsuite.SQL_Q6) == ("lineitem",)
    assert sqlsuite._referenced_tables(sqlsuite.SQL_Q5) == (
        "region", "nation", "customer", "supplier", "orders", "lineitem")
    # substrings must not count
    assert "part" not in sqlsuite._referenced_tables(
        "SELECT o_orderpriority FROM orders")


def test_fan_out_small_scan_reaches_parallelism(spark, sf_smoke):
    docs = table(spark, sf_smoke, "documents")
    out = fan_out(docs)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    # memoized per input plan object — and reuse is decision-stable
    assert fan_out(docs) is out


def test_fan_out_estimate_is_job_free_and_sane(spark, sf_smoke):
    docs = table(spark, sf_smoke, "documents")
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    est = _estimated_scan_partitions(docs)
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert est >= 1
    assert list(before) == list(after), "estimate must not trigger a job"


def test_fan_out_explicit_min_partitions_no_op_when_wide(spark, sf_smoke):
    docs = table(spark, sf_smoke, "documents")
    assert fan_out(docs, min_partitions=1) is docs


@pytest.mark.parametrize("raw,expect", [
    ("134217728", 134217728),
    ("134217728b", 134217728),
    ("128m", 128 << 20),
    ("1g", 1 << 30),
])
def test_max_split_unit_parse(raw, expect):
    from tfm_taxitrips_spark.operators.partitioning import _parse_bytes_conf

    assert _parse_bytes_conf(raw) == expect


def test_ephemeral_scratch_dir_env_override_and_fallback(monkeypatch, tmp_path):
    """The scratch helper honors $SPARK_GRAFT_CHK_SCRATCH, prefers /dev/shm
    when present, always creates a fresh dir, and falls back to the
    system tempdir when the override lacks the free space asked for."""
    import os
    import tempfile

    from tfm_taxitrips_spark.session import ephemeral_scratch_dir

    monkeypatch.setenv("SPARK_GRAFT_CHK_SCRATCH", str(tmp_path))
    d = ephemeral_scratch_dir("tfm_chk_")
    assert os.path.isdir(d) and d.startswith(str(tmp_path))
    os.rmdir(d)

    big = ephemeral_scratch_dir("tfm_chk_", expect_bytes=1 << 60)
    assert os.path.dirname(big) == tempfile.gettempdir()
    os.rmdir(big)

    monkeypatch.delenv("SPARK_GRAFT_CHK_SCRATCH")
    d2 = ephemeral_scratch_dir("tfm_chk_")
    assert os.path.isdir(d2)
    if os.path.isdir("/dev/shm"):
        assert d2.startswith("/dev/shm/")
    os.rmdir(d2)


def test_plane_memo_reuses_column_object():
    from tfm_taxitrips_spark.functions.similarity import _plane

    assert _plane(0) is _plane(0)
    assert _plane(0) is not _plane(1)


def test_plane_literals_bit_identical_to_expression(spark):
    """The r18 plane-literal rewrite must reproduce the former per-row
    LCG expression bit-for-bit (the LSH bucket ids — and therefore every
    ANN result — depend on exact signs of the projections)."""
    import struct

    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.functions.similarity import (
        _PLANE_ADD,
        _PLANE_MOD,
        _PLANE_MUL,
        EMBEDDING_DIM,
        LSH_PLANES,
        _plane_values,
    )

    for j in range(LSH_PLANES):
        legacy = F.transform(
            F.sequence(F.lit(0), F.lit(EMBEDDING_DIM - 1)),
            lambda d: (
                (F.lit(_PLANE_MUL).cast("long")
                 * (F.lit(j * EMBEDDING_DIM).cast("long") + d) + _PLANE_ADD)
                % _PLANE_MOD
            ).cast("double") / 1000.0 - 1.0,
        )
        got = spark.range(1).select(legacy.alias("p")).collect()[0].p
        want = _plane_values(j)
        assert [struct.pack("<d", x) for x in got] == \
               [struct.pack("<d", x) for x in want], f"plane {j}"


def test_simhash_pairs_neighborhood_equals_band_join(spark, sf_smoke):
    """r18 rewrite pin: the bit-flip neighborhood equi-join must emit the
    exact pair set of the former nibble-band pigeonhole + hamming filter
    (the formulation the DuckDB oracle still runs)."""
    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.operators.pairs import bucket_pairs
    from tfm_taxitrips_spark.queries.text import (
        _SIMHASH_BANDS,
        SIMHASH_HAMMING_MAX,
        q_simhash,
        q_simhash_dup_pairs,
    )

    sig = q_simhash(spark, sf_smoke)
    bands = sig.select(
        F.struct("doc_id", "simhash16").alias("d"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash16"), 4 * b)
                .bitwiseAND(F.lit(15)).alias("bv"),
            )
            for b in range(_SIMHASH_BANDS)
        ])).alias("band"),
    ).select("d", F.col("band.band_id").alias("band_id"),
             F.col("band.bv").alias("bv"))
    legacy = (
        bucket_pairs(bands, ["band_id", "bv"], F.col("d"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("p.a.simhash16").bitwiseXOR(F.col("p.b.simhash16"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )
    got = {tuple(r) for r in q_simhash_dup_pairs(spark, sf_smoke).collect()}
    want = {tuple(r) for r in legacy.collect()}
    assert got == want and got


def test_gap_fill_interp_reverse_frame_equals_forward_frame(spark, sf_smoke):
    """r18 window rewrite pin: last(ignorenulls) over the reverse-ordered
    running frame equals first(ignorenulls) over the O(n²)
    [currentRow, unboundedFollowing] frame it replaced."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.queries.temporal import (
        BUCKET_US,
        GAPFILL_FROM,
        GAPFILL_TO,
        q_event_gap_fill_interp,
    )
    from tfm_taxitrips_spark.sources.readers import table

    events = table(spark, sf_smoke, "events")
    e = events.where(
        (F.col("ts") >= F.lit(GAPFILL_FROM)) & (F.col("ts") < F.lit(GAPFILL_TO))
    ).select(
        "user_id",
        F.expr(f"unix_micros(ts) div {BUCKET_US}").alias("bucket"),
        "value",
    )
    per_bucket = e.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("value").alias("v"))
    grid = (
        e.groupBy("user_id")
        .agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
        .select("user_id", F.explode(F.sequence("mn", "mx")).alias("bucket"))
    )
    filled = grid.join(per_bucket, ["user_id", "bucket"], "left")
    wb = (Window.partitionBy("user_id").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy("user_id").orderBy("bucket")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    kb = F.when(F.col("v").isNotNull(), F.col("bucket"))
    pv = F.last("v", ignorenulls=True).over(wb)
    pb = F.last(kb, ignorenulls=True).over(wb)
    nv = F.first("v", ignorenulls=True).over(wf)
    nb = F.first(kb, ignorenulls=True).over(wf)
    interp = pv + (nv - pv) * ((F.col("bucket") - pb) / (nb - pb))
    legacy = filled.select(
        "user_id",
        (F.col("bucket") * F.lit(BUCKET_US)).alias("bucket_start_us"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp)
        .alias("value_interp"),
    )
    got = sorted(map(tuple, q_event_gap_fill_interp(spark, sf_smoke).collect()))
    want = sorted(map(tuple, legacy.collect()))
    assert got == want and got


def test_training_mix_minby_dedup_equals_window_dedup(spark, sf_smoke):
    """r18 rewrite pin: the min/min_by hash-aggregate dedup inside
    q_training_mix equals the row_number()==1 window form it replaced
    (the formulation the oracle still runs)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.functions.text import (
        ascii_lower,
        hash60,
        token_count,
    )
    from tfm_taxitrips_spark.queries.text import (
        QGATE_MIN_CHARS,
        QGATE_MIN_TOKENS,
        q_training_mix,
    )
    from tfm_taxitrips_spark.sources.readers import table

    docs = table(spark, sf_smoke, "documents")
    n_tok = token_count("text")
    filtered = docs.where(
        (n_tok >= QGATE_MIN_TOKENS) & (F.length("text") >= QGATE_MIN_CHARS))
    keyed = filtered.withColumn("k", F.md5(ascii_lower(F.col("text"))))
    w = Window.partitionBy("k").orderBy("doc_id")
    deduped = keyed.withColumn(
        "rn", F.row_number().over(w)).where(F.col("rn") == 1)
    sample_h = hash60(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    shard_h = hash60(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
    sampled = deduped.where(F.pmod(sample_h, F.lit(100)) < 50)
    sharded = sampled.withColumn("shard", F.pmod(shard_h, F.lit(8)))
    legacy = sharded.groupBy("shard", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text").cast("bigint")).alias("total_tokens"),
    )
    got = sorted(map(tuple, q_training_mix(spark, sf_smoke).collect()))
    want = sorted(map(tuple, legacy.collect()))
    assert got == want and got


def test_setsim_rank_form_equals_string_form(spark, sf_smoke):
    """r18 rewrite pin: the dense-integer-rank pipeline (tokens mapped to
    their (df_t, token)-order rank once, all downstream stages integer)
    plus the join-strategy expansion must reproduce the pre-r18
    string-token formulation exactly (the DuckDB oracle keeps the string
    brute force as the independent mirror)."""
    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.functions.text import ascii_lower
    from tfm_taxitrips_spark.operators.pairs import bucket_pairs
    from tfm_taxitrips_spark.operators.partitioning import fan_out
    from tfm_taxitrips_spark.queries.text import (
        SETSIM_TAU_DEN,
        SETSIM_TAU_NUM,
        SETSIM_TAU_PPM,
        q_setsim_prefix_join,
    )
    from tfm_taxitrips_spark.sources.readers import table

    docs = fan_out(table(spark, sf_smoke, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(ascii_lower(F.col("text")), " "))
        ).alias("t"),
    )
    df_t = toks.groupBy("t").agg(F.count(F.lit(1)).alias("df_t"))
    doc_arr = (
        toks.join(df_t, "t")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df_t", "t"))).alias("st"))
        .select(
            "doc_id",
            F.transform("st", lambda x: x["t"]).alias("ts"),
            F.size("st").alias("s"),
            F.slice(
                F.transform("st", lambda x: x["t"]),
                1,
                F.expr(
                    f"size(st) - ((({SETSIM_TAU_NUM} * size(st))"
                    f" + {SETSIM_TAU_DEN} - 1) div {SETSIM_TAU_DEN}) + 1"
                ),
            ).alias("prefix"),
        )
        .localCheckpoint(eager=False)
    )
    prefix_rows = doc_arr.select("doc_id", "s", F.explode("prefix").alias("t"))
    size_ratio_ok = lambda a, b: (  # noqa: E731
        F.lit(SETSIM_TAU_DEN) * F.least(a["s"], b["s"])
        >= F.lit(SETSIM_TAU_NUM) * F.greatest(a["s"], b["s"])
    )
    cands = (
        bucket_pairs(
            prefix_rows, ["t"], F.struct("doc_id", "s"),
            pair_filter=size_ratio_ok,
        )
        .select(F.col("p.a.doc_id").alias("doc_a"),
                F.col("p.b.doc_id").alias("doc_b"))
        .distinct()
    )
    a = doc_arr.select(F.col("doc_id").alias("doc_a"),
                       F.col("ts").alias("ts_a"), F.col("s").alias("s_a"))
    b = doc_arr.select(F.col("doc_id").alias("doc_b"),
                       F.col("ts").alias("ts_b"), F.col("s").alias("s_b"))
    legacy = (
        cands.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.size(F.array_intersect("ts_a", "ts_b")).cast("bigint")
            .alias("n_inter"),
            "s_a", "s_b",
        )
        .withColumn(
            "jaccard_ppm",
            F.expr("(1000000 * n_inter) div (s_a + s_b - n_inter)"),
        )
        .where(F.col("jaccard_ppm") >= SETSIM_TAU_PPM)
        .select("doc_a", "doc_b", "n_inter", "jaccard_ppm")
    )
    got = sorted(map(tuple, q_setsim_prefix_join(spark, sf_smoke).collect()))
    want = sorted(map(tuple, legacy.collect()))
    assert got == want and got
