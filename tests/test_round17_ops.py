"""Round-17 operator tests (`queries/opsaudit.py`): URL canonicalization
unit cases, the dedup+blocklist gate replayed in exact Python on a
collision-crafted fixture, the two-phase prefix-MAX vs the naive window,
the watermark-lateness audit replayed in exact Python, and the parquet
footer audit proven against both a controlled multi-row-group file and
the registered query's own written layout.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

from tests.test_round13_ops import _write_docs, _write_events
from tfm_taxitrips_spark.queries.opsaudit import (
    LAYOUT_BUCKET_SPAN,
    URL_BLOCKLIST,
    WM_DELAY_US,
    WM_SHARDS,
    _two_phase_prefix_max,
    audit_parquet_footers,
    normalize_url,
    q_parquet_layout_audit,
    q_url_dedup_gate,
    q_watermark_lateness_audit,
)

# --------------------------------------------------------------------------
# URL canonicalization
# --------------------------------------------------------------------------


def test_normalize_url_unit_cases(spark):
    """Each canonicalization step on hand-crafted URLs: scheme case,
    www strip, host lowercase with path case PRESERVED, query-string
    strip, trailing-slash strip, registered-domain extraction."""
    from pyspark.sql import functions as F

    cases = [
        ("https://www.Sub.Example3.COM/Docs/7?utm_source=x",
         "sub.example3.com/Docs/7", "example3.com"),
        ("HTTP://host-a.example0.com/Docs/1/",
         "host-a.example0.com/Docs/1", "example0.com"),
        ("http://EXAMPLE1.com", "example1.com", "example1.com"),
        ("https://www.a.b.example2.org/X/Y/?utm_id=9",
         "a.b.example2.org/X/Y", "example2.org"),
    ]
    df = spark.createDataFrame([(u,) for u, _n, _d in cases], "url string")
    norm, domain = normalize_url(F.col("url"))
    got = {r["url"]: (r["n"], r["d"])
           for r in df.select("url", norm.alias("n"),
                              domain.alias("d")).collect()}
    for url, n, d in cases:
        assert got[url] == (n, d), url


def test_url_dedup_gate_dedup_and_blocklist(spark, tmp_path):
    """Collision-crafted fixture: doc_ids congruent mod lcm(5,37)=185
    within one (source, lang) canonicalize to the SAME URL (their utm
    variants and trailing slashes differ — the gate must see through
    both). Blocked domains keep their dedup stats but n_kept = 0."""
    rows = [
        # domain example0.com (BLOCKED): 0 and 370 collide → 1 url
        (0, "srcA", "t"), (370, "srcA", "t"),
        # domain example1.com: 1 and 186 collide → 1 url; 6 distinct
        (1, "srcA", "t"), (186, "srcA", "t"), (6, "srcA", "t"),
        # domain example2.com: singleton
        (2, "srcA", "t"),
    ]
    _write_docs(tmp_path, rows)
    out = {r["domain"]: r.asDict()
           for r in q_url_dedup_gate(spark, str(tmp_path)).collect()}

    assert out["example0.com"] == {
        "domain": "example0.com", "n_docs": 2, "n_urls": 1,
        "n_dup_docs": 1, "n_kept": 0, "blocked": True}
    assert out["example1.com"] == {
        "domain": "example1.com", "n_docs": 3, "n_urls": 2,
        "n_dup_docs": 1, "n_kept": 2, "blocked": False}
    assert out["example2.com"] == {
        "domain": "example2.com", "n_docs": 1, "n_urls": 1,
        "n_dup_docs": 0, "n_kept": 1, "blocked": False}
    assert set(URL_BLOCKLIST) == {"example0.com", "example3.com"}


# --------------------------------------------------------------------------
# two-phase prefix max
# --------------------------------------------------------------------------


def test_two_phase_prefix_max_equals_naive_window(spark):
    """The decomposed running max must equal the naive exclusive window
    on a frame that exercises: multiple partitions, multiple buckets,
    empty-prefix NULLs, a bucket whose max sits mid-bucket, and NULL
    values (max skips them)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [
        # (shard, bkt, ord, val)
        (0, 0, 1, 10), (0, 0, 2, 5), (0, 1, 1, 3), (0, 1, 2, 99),
        (0, 2, 1, None), (0, 2, 2, 7),
        (1, 0, 1, None), (1, 0, 2, 4), (1, 5, 1, 2),
    ]
    df = spark.createDataFrame(
        rows, "shard int, bkt int, o int, val int")
    got = _two_phase_prefix_max(
        df, partition_cols=("shard",), bucket_col="bkt",
        order_cols=("o",), val_col="val", out_col="wm")
    naive = df.withColumn(
        "wm_naive",
        F.max("val").over(
            Window.partitionBy("shard").orderBy("bkt", "o")
            .rowsBetween(Window.unboundedPreceding, -1)))
    g = {(r["shard"], r["bkt"], r["o"]): r["wm"] for r in got.collect()}
    n = {(r["shard"], r["bkt"], r["o"]): r["wm_naive"]
         for r in naive.collect()}
    assert g == n
    assert g[(0, 0, 1)] is None          # empty prefix
    assert g[(0, 1, 2)] == 10            # offset from the prior bucket
    assert g[(1, 0, 2)] is None          # NULL value never contributes
    assert g[(1, 5, 1)] == 4             # bucket gap (0 → 5) still works


# --------------------------------------------------------------------------
# watermark lateness audit
# --------------------------------------------------------------------------


def _arr(event_id: int) -> int:
    """Python twin of the audit's arrival hash: hash60('arr:'||id)."""
    return int(hashlib.md5(f"arr:{event_id}".encode()).hexdigest()[:15], 16)


def test_watermark_lateness_audit_exact_python(spark, tmp_path):
    """Replay the audit in exact Python on a synthetic events fixture:
    per-shard arrival order by (arr, event_id), exclusive running max,
    late iff wm - us > delay — and the NULL-ts ingest-contract drop."""
    base = pd.Timestamp("2024-01-01")
    day_us = 86_400_000_000
    rows = []
    for i in range(200):
        ts = base + pd.Timedelta(days=(i % 40))
        rows.append((i, ts, i % 7, "a" if i % 2 == 0 else "b", 1.0, "{}"))
    rows.append((200, None, 1, "a", 1.0, "{}"))  # guard-dropped
    _write_events(tmp_path, rows)

    got = {r["event_type"]: r.asDict()
           for r in q_watermark_lateness_audit(spark, str(tmp_path)).collect()}

    # exact replay
    ev = [(i, (i % 40) * day_us, "a" if i % 2 == 0 else "b")
          for i in range(200)]
    by_shard: dict[int, list] = {}
    for eid, us, et in ev:
        by_shard.setdefault(_arr(eid) % WM_SHARDS, []).append(
            (_arr(eid), eid, us, et))
    expect: dict[str, dict] = {}
    for shard_rows in by_shard.values():
        shard_rows.sort()
        wm = None
        for _a, _eid, us, et in shard_rows:
            rec = expect.setdefault(
                et, {"n_rows": 0, "n_late": 0, "max_lateness_us": None})
            rec["n_rows"] += 1
            if wm is not None:
                late_by = wm - us
                if late_by > WM_DELAY_US:
                    rec["n_late"] += 1
                if (rec["max_lateness_us"] is None
                        or late_by > rec["max_lateness_us"]):
                    rec["max_lateness_us"] = late_by
            wm = us if wm is None else max(wm, us)
    assert set(got) == set(expect) == {"a", "b"}
    for et, rec in expect.items():
        assert got[et]["n_rows"] == rec["n_rows"]
        assert got[et]["n_late"] == rec["n_late"]
        assert got[et]["max_lateness_us"] == rec["max_lateness_us"]
        assert got[et]["late_ppm"] == rec["n_late"] * 1_000_000 // rec["n_rows"]
    # the 40-day spread vs the 7-day delay makes the audit non-degenerate
    assert sum(r["n_late"] for r in expect.values()) > 0


# --------------------------------------------------------------------------
# parquet layout audit
# --------------------------------------------------------------------------


def test_audit_parquet_footers_multi_rowgroup(spark, tmp_path):
    """The footer reader on a CONTROLLED multi-row-group file (pyarrow
    row_group_size=40 over 100 rows → 3 groups): per-group row counts
    and min/max stats; no bkt dir → NULL bkt (the same surface as
    hive's default partition for NULL-key rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(tmp_path, "plain.parquet")
    pq.write_table(
        pa.table({"k": pa.array(range(100), pa.int64())}),
        path, row_group_size=40)
    got = audit_parquet_footers(spark, [path], "k").collect()
    rows = sorted(
        (r["n_rows"], r["stats_min"], r["stats_max"], r["bkt"],
         r["n_row_groups"], r["file_marker"]) for r in got)
    assert rows == [(20, 80, 99, None, 1, 0), (40, 0, 39, None, 1, 1),
                    (40, 40, 79, None, 1, 0)]
    # ONE file, THREE row groups: the two failure modes must not alias
    assert sum(r["file_marker"] for r in got) == 1
    assert sum(r["n_row_groups"] for r in got) == 3


def test_audit_parquet_footers_null_key_bucket(spark, tmp_path):
    """NULL-key rows (a real ingest class — the null-probe menagerie
    plants them): the writer files them under hive's default
    partition; the audit must surface a NULL bkt with NULL stats
    (all-NULL column chunk has no min/max), grouping exactly like the
    SQL recompute."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(None,), (None,), (7,)], "k bigint").withColumn(
        "bkt", F.expr("k div 4"))
    out = os.path.join(tmp_path, "t")
    df.repartition("bkt").write.partitionBy("bkt").parquet(out)
    paths = [os.path.join(r, n) for r, _d, ns in os.walk(out)
             for n in ns if n.endswith(".parquet")]
    rows = {r["bkt"]: r.asDict()
            for r in audit_parquet_footers(spark, sorted(paths),
                                           "k").collect()}
    assert rows[None]["n_rows"] == 2
    assert rows[None]["stats_min"] is None
    assert rows[None]["stats_max"] is None
    assert rows[1] == {"bkt": 1, "file_marker": 1, "n_row_groups": 1,
                       "n_rows": 1, "stats_min": 7, "stats_max": 7}


def test_parquet_layout_audit_footer_stats_equal_truth(spark, sf_smoke):
    """The registered query end-to-end at sf0.001: the FOOTER-derived
    per-bucket facts must equal count/min/max recomputed from the data
    (diverging stats = broken min-max pruning — the audit's purpose),
    with exactly one file and one row group per bucket (the layout the
    writer is asked for)."""
    from pyspark.sql import functions as F

    from tfm_taxitrips_spark.sources.readers import table

    got = {r["bkt"]: r.asDict()
           for r in q_parquet_layout_audit(spark, sf_smoke).collect()}
    truth = {
        r["bkt"]: r.asDict()
        for r in table(spark, sf_smoke, "lineitem")
        .groupBy(F.expr(f"l_orderkey div {LAYOUT_BUCKET_SPAN}").alias("bkt"))
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.min("l_orderkey").alias("mn"),
             F.max("l_orderkey").alias("mx"))
        .collect()
    }
    assert set(got) == set(truth) and len(got) >= 2
    for bkt, t in truth.items():
        g = got[bkt]
        assert (g["n_files"], g["n_row_groups"]) == (1, 1), bkt
        assert g["n_rows"] == t["n_rows"], bkt
        assert g["stats_min"] == t["mn"] and g["stats_max"] == t["mx"], bkt


def test_audit_parquet_footers_empty_list_returns_empty(spark):
    """paths=[] must return an empty, correctly-typed frame instead of
    tripping Spark's repartition(0) rejection (review finding)."""
    out = audit_parquet_footers(spark, [], "k")
    assert out.count() == 0
    assert "file_marker" in out.columns
