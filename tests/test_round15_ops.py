"""Round-15 operator tests: exact-Python replays + NULL probes for
`source_prune_plan` (the containment matrix's decision layer) and
`debounce_episode_audit` (the debounce policy's episode histogram),
plus the cross-operator reconciliations each one exists to honor.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from tests.test_round13_ops import (
    _shingles3,
    _tok,
    _write_docs,
    _write_events,
)
from tests.test_round14_ops import _CNT_DOCS, _DB_EVENTS

# --------------------------------------------------------------------------
# source_prune_plan
# --------------------------------------------------------------------------


def _best_container(sets: dict) -> dict:
    """Python twin of the prune plan's deterministic best pick:
    containment DESC NULLS LAST, then sz_b DESC, then source_b ASC
    NULLS FIRST."""
    out = {}
    for sa in sets:
        cands = []
        for sb in sets:
            if sb == sa:
                continue
            ppm = (None if len(sets[sa]) == 0
                   else len(sets[sa] & sets[sb]) * 1_000_000
                   // len(sets[sa]))
            cands.append((sb, len(sets[sb]), ppm))
        if not cands:
            out[sa] = (None, None)
            continue
        cands.sort(key=lambda c: (
            0 if c[2] is not None else 1,        # NULLS LAST
            -(c[2] or 0),                        # containment DESC
            -c[1],                               # sz_b DESC
            c[0] is not None,                    # NULLS FIRST
            c[0] or ""))                         # source_b ASC
        out[sa] = (cands[0][0], cands[0][2])
    return out


def test_source_prune_plan_matches_exact_python_reference(spark, tmp_path):
    """source_prune_plan replayed in exact Python over the containment
    fixture: per-source best container under the stated deterministic
    ordering, prunable iff best containment ≥ PRUNE_TAU_PPM, token mass
    with the NULL-text→0 contract, tokens_dropped = mass iff pruned —
    and the operator's reason to exist: the strict-subset source 'sub'
    is flagged prunable into 'a' while 'a' itself is kept."""
    from tests.oracle import compare_result
    from tfm_taxitrips_spark.queries.registry import all_queries
    from tfm_taxitrips_spark.queries.text import PRUNE_TAU_PPM

    _write_docs(tmp_path, _CNT_DOCS)
    spec = all_queries()["source_prune_plan"]
    actual = spec.fn(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(spec.oracle).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]

    sets: dict = {}
    mass: dict = {}
    for _id, src, text in _CNT_DOCS:
        sets.setdefault(src, set()).update(_shingles3(text))
        nd, nt = mass.get(src, (0, 0))
        mass[src] = (nd + 1, nt + _tok(text))
    best = _best_container(sets)
    want = {}
    for src, (nd, nt) in mass.items():
        bc, ppm = best[src]
        prunable = ppm is not None and ppm >= PRUNE_TAU_PPM
        want[src] = (nd, nt, bc, ppm, prunable, nt if prunable else 0)
    got = {
        (None if pd.isna(r["source"]) else r["source"]): (
            int(r["n_docs"]), int(r["n_tokens"]),
            None if pd.isna(r["best_container"]) else r["best_container"],
            None if pd.isna(r["best_containment_ppm"])
            else int(r["best_containment_ppm"]),
            bool(r["prunable"]), int(r["tokens_dropped"]))
        for _, r in actual.iterrows()
    }
    assert got == want
    # the decision the matrix alone can't make: the strict subset reads
    # 10⁶ into its container and is dropped with its token mass counted;
    # the container's own best containment is strictly below 10⁶ (the
    # asymmetry), and the disjoint source reads 0 and is kept
    assert got["sub"][2] == "a" and got["sub"][3] == 1_000_000
    assert got["sub"][4] is True and got["sub"][5] == got["sub"][1] > 0
    assert got["a"][3] < 1_000_000
    assert got["c"][3] == 0 and got["c"][4] is False and got["c"][5] == 0
    # shingle-free source: all-NULL ppm, best_container degrades to the
    # tie-break pick (a real label — NULL best_container is reserved
    # for the single-source case), never prunable
    assert got["empty"][2] is not None
    assert got["empty"][3] is None and got["empty"][4] is False
    # NULL provenance is a real plan row
    assert None in got


def test_source_prune_plan_single_source_and_null_source(spark, tmp_path):
    """NULL probes: a single-source corpus has NO pair rows — the plan
    keeps the source with a NULL best container (COALESCE → false,
    never a crash); an all-NULL-source corpus exercises the NULL-key
    mass↔best join (eqNullSafe / IS NOT DISTINCT FROM) the same way.
    Both engines."""
    from tests.oracle import compare_result
    from tfm_taxitrips_spark.queries.registry import all_queries

    spec = all_queries()["source_prune_plan"]
    for sub, docs in (
        ("one", [(1, "only", "the quick brown fox jumps over the dog"),
                 (2, "only", "another sentence for the only source")]),
        ("nul", [(1, None, "the quick brown fox jumps over the dog"),
                 (2, None, "another sentence for the null source")]),
    ):
        d = tmp_path / sub
        d.mkdir()
        _write_docs(d, docs)
        actual = spec.fn(spark, str(d)).toPandas()
        conn = duckdb.connect()
        conn.sql("CREATE VIEW documents AS SELECT * FROM "
                 f"'{d}/documents.parquet'")
        try:
            expected = conn.sql(spec.oracle).df()
        finally:
            conn.close()
        assert compare_result(actual.copy(), expected)["hash_match"]
        assert len(actual) == 1
        row = actual.iloc[0]
        assert pd.isna(row["best_container"])
        assert pd.isna(row["best_containment_ppm"])
        assert not bool(row["prunable"])
        assert int(row["tokens_dropped"]) == 0


# --------------------------------------------------------------------------
# debounce_episode_audit
# --------------------------------------------------------------------------


def _py_episode_hist(events, ttl_us: int):
    """Python twin of the audit: per key, sort by (us, event_id), split
    into episodes at strict-> TTL gaps, histogram by episode length.
    Returns {length: (n_episodes, total_span_us, max_span_us)} and the
    guarded event total."""
    by_key: dict = {}
    for eid, ts, uid, _et, _v, _p in events:
        if ts is None:
            continue  # the shared events-guard exclusion
        by_key.setdefault(uid, []).append((ts.value // 1000, eid))
    hist: dict = {}
    total = 0
    for evs in by_key.values():
        evs.sort()
        episodes, prev = [], None
        for us, _eid in evs:
            if prev is None or us > prev + ttl_us:
                episodes.append([us])
            else:
                episodes[-1].append(us)
            prev = us  # refresh on EVERY event
        for e in episodes:
            n, tot, mx = hist.get(len(e), (0, 0, 0))
            span = e[-1] - e[0]
            hist[len(e)] = (n + 1, tot + span, max(mx, span))
        total += len(evs)
    return hist, total


def test_debounce_episode_audit_matches_exact_python_reference(
        spark, tmp_path):
    """debounce_episode_audit replayed in exact Python over the r14
    debounce fixture: the refreshing-anchor episode split, length
    histogram, spans, and exact ppm shares — including the dup-ts
    zero-span episode (tiebreak invariance) and the 30-hour drip
    surfacing as ONE length-6 episode."""
    from tests.oracle import compare_result
    from tfm_taxitrips_spark.operators.temporal import _duration_us
    from tfm_taxitrips_spark.queries.registry import all_queries
    from tfm_taxitrips_spark.queries.streamq import STREAM_DEBOUNCE_TTL

    _write_events(tmp_path, _DB_EVENTS)
    spec = all_queries()["debounce_episode_audit"]
    actual = spec.fn(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW events AS SELECT * FROM "
             f"'{tmp_path}/events.parquet'")
    try:
        expected = conn.sql(spec.oracle).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]

    hist, total = _py_episode_hist(
        _DB_EVENTS, _duration_us(STREAM_DEBOUNCE_TTL))
    want = {
        ln: (n, ln * n, tot, mx, ln * n * 1_000_000 // total)
        for ln, (n, tot, mx) in hist.items()
    }
    got = {
        int(r["episode_len"]): (
            int(r["n_episodes"]), int(r["n_events"]),
            int(r["total_span_us"]), int(r["max_span_us"]),
            int(r["events_ppm"]))
        for _, r in actual.iterrows()
    }
    assert got == want
    # the 30 h drip is ONE episode of six events (never re-admitted)
    assert got[6][0] == 1
    # three length-2 episodes: user 2's exactly-TTL pair (8 h span),
    # user 3's dup-ts pair (ZERO span — tiebreak-invariant), the NULL
    # user's 2 h pair; their spans reconcile exactly: 8 + 0 + 2 hours
    h_us = 3_600_000_000
    assert got[2] == (3, 6, 10 * h_us, 8 * h_us, 6 * 1_000_000 // 15)
    # the NULL-ts row is excluded: totals count 15 guarded events
    assert sum(v[1] for v in got.values()) == total == 15


def test_debounce_audit_reconciles_with_dedup_totals(spark, tmp_path):
    """The one-policy-two-views contract: on the same fixture,
    Σ n_episodes == stream_dedup_debounce's Σ n_admitted (every
    admission opens exactly one episode) and the two views count the
    same guarded event total."""
    from tfm_taxitrips_spark.queries.registry import all_queries

    _write_events(tmp_path, _DB_EVENTS)
    qs = all_queries()
    audit = qs["debounce_episode_audit"].fn(spark, str(tmp_path)).toPandas()
    dedup = qs["stream_dedup_debounce"].fn(spark, str(tmp_path)).toPandas()
    assert int(audit["n_episodes"].sum()) == int(dedup["n_admitted"].sum())
    assert int(audit["n_events"].sum()) == int(dedup["n_events"].sum())
