"""Distributed two-phase prefix sum — running totals without a global sort.

A running sum over a total order is inherently sequential; at 100 TB the
naive form (one window over the whole ordering, or per hot key) funnels
every row through one sort partition. When the leading component of the
order admits a COARSE MONOTONE BUCKET key (contiguous hash-priority
ranges, epoch days, file offsets), the prefix decomposes:

1. per-bucket sums collapse map-side into a |partitions × buckets|-row
   relation (tiny by construction — the caller picks the bucket grain);
2. each bucket's offset (sum of all prior buckets) comes from a window
   over THAT relation only;
3. every bucket partition computes its local running sum independently
   and adds its broadcast offset.

The heavy window's partition key gains |buckets|× parallelism, nothing
global is ever sorted, and hot partitions stay AQE-splittable. Used by
``token_budget_mix`` (hash-priority ranges within source) and
``concurrency_profile`` (epoch days); the paired DuckDB oracles state the
naive one-window form, so the registry differential proves the rewrite
exact on every run.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def two_phase_prefix_sum(
    df: DataFrame,
    *,
    bucket_col: str,
    order_cols: Sequence[str],
    val_col: str,
    out_col: str,
    partition_cols: Sequence[str] = (),
    inclusive: bool = True,
) -> DataFrame:
    """Add ``out_col`` = running sum of ``val_col`` over the total order
    (``partition_cols``, ``bucket_col`` ASC, ``order_cols``) within each
    partition, via the two-phase decomposition above.

    ``bucket_col`` MUST be monotone in the intended order (rows of a
    smaller bucket all precede rows of a larger one) — that is what lets
    phase 1 collapse. With ``inclusive=False`` the sum excludes the
    current row (the "tokens before me" form). The offsets window runs
    single-partition when ``partition_cols`` is empty — bounded by the
    bucket-relation size, a deliberate cardinality-collapsed choice.

    CALLER CONTRACT: ``df`` is referenced TWICE in the returned plan
    (phase-1 bucket sums + the offset join), so an expensive upstream
    lineage re-executes once per reference — and COMPOUNDS under nested
    calls (two stacked sums re-run the first's input 4×; the
    ``ks_split_drift`` audit caught a 16-scan blowup this way). Callers
    must ``localCheckpoint(eager=False)`` any non-trivial input before
    calling — every in-repo call site does. Callers that need running
    sums of SEVERAL value columns over the SAME order should call
    :func:`two_phase_prefix_sums` once instead of stacking calls — a
    stack pays the bucket-sum pass, the offset join, the local window
    and (per the contract above) a fence once per column; the multi
    form pays each exactly once (r19, guide §1.2/§2.4).
    """
    return two_phase_prefix_sums(
        df,
        bucket_col=bucket_col,
        order_cols=order_cols,
        cols=[(val_col, out_col)],
        partition_cols=partition_cols,
        inclusive=inclusive,
    )


def two_phase_prefix_sums(
    df: DataFrame,
    *,
    bucket_col: str,
    order_cols: Sequence[str],
    cols: Sequence[tuple[str, str]],
    partition_cols: Sequence[str] = (),
    inclusive: bool = True,
) -> DataFrame:
    """N-column form of :func:`two_phase_prefix_sum` over ONE shared
    total order: ``cols`` is a sequence of ``(val_col, out_col)`` pairs,
    each getting its own running sum. All sums share the single phase-1
    bucket collapse, the single offsets window, the single broadcast
    offset join and the single local window pass (identical frame specs
    collapse into one physical Window operator), so the per-column
    marginal cost is one aggregate expression — where stacked
    single-column calls re-run the whole machinery, and re-read their
    input, once per column. Column math is identical to the
    single-column form, so results are bit-equal per column.
    """
    pc = list(partition_cols)
    idx = list(range(len(cols)))
    bucket_sums = df.groupBy(*pc, bucket_col).agg(
        *[F.sum(v).alias(f"_tpps_sum_{i}") for i, (v, _) in zip(idx, cols)]
    )
    w_off = (
        Window.partitionBy(*pc).orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_sums.select(
        *pc, bucket_col,
        *[
            F.coalesce(F.sum(f"_tpps_sum_{i}").over(w_off), F.lit(0))
            .alias(f"_tpps_off_{i}")
            for i in idx
        ],
    )
    upper = 0 if inclusive else -1
    w_loc = (
        Window.partitionBy(*pc, bucket_col).orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    # eqNullSafe offset join (r12 adversarial sweep): a NULL partition
    # key (e.g. a NULL event_type stratum) survives the windows and the
    # groupBy above, then silently lost its WHOLE partition at a plain
    # equi-join here — while every paired oracle's naive window kept it.
    # EqualNullSafe is still a hash-joinable equi-key, so the broadcast
    # plan shape is unchanged.
    keys = pc + [bucket_col]
    off_r = offsets.select(
        *[F.col(c).alias(f"_tpps_k_{c}") for c in keys],
        *[f"_tpps_off_{i}" for i in idx],
    )
    cond = None
    for c in keys:
        leg = df[c].eqNullSafe(F.col(f"_tpps_k_{c}"))
        cond = leg if cond is None else (cond & leg)
    out = df.join(F.broadcast(off_r), cond)
    # ONE select over the joined frame: every sum reads the INPUT
    # ``val_col`` even when an earlier pair's ``out_col`` shares its name
    # (a withColumn chain would sum the earlier running sum instead). An
    # ``out_col`` naming an input column replaces it in place; new ones
    # are appended in ``cols`` order.
    sums = {
        out_col: (
            F.col(f"_tpps_off_{i}")
            + F.coalesce(F.sum(val_col).over(w_loc), F.lit(0))
        ).alias(out_col)
        for i, (val_col, out_col) in zip(idx, cols)
    }
    return out.select(
        *[sums.pop(c, F.col(c)) for c in df.columns], *sums.values()
    )
