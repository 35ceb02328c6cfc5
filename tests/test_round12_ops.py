"""Behavioral tests for the round-12 fixes and operators. Oracle parity
is covered by the registry-wide differential sweep; these pin the
round's probe findings and advisory closures:

- the tokenizer-fertility denominator contract (r12 order #6): a
  token-free source keeps its audit row with an EXPLICIT NULL ratio in
  both engines;
- the hardened ``_emb_guard_sql`` rewriter (r11 advisory #2):
  case-insensitive scan matching, whitespace-tolerant ``WITH
  RECURSIVE`` detection, and a loud failure when no scan matched.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "text"])
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    pdf["text"] = pdf["text"].astype("string")  # stays string when all-NULL
    pdf["source"] = pdf["source"].astype("string")
    pdf["lang"] = "en"
    pdf["n_chars"] = pdf["text"].str.len().astype("Int64")  # NULL-text safe
    pdf.to_parquet(os.path.join(tmp_path, "documents.parquet"))


def test_fertility_token_free_source_keeps_row_with_null_ratio(
        spark, tmp_path):
    """Round-12 planted probe (r11 advisory #3 + verdict order #6): a
    source whose every doc is whitespace/punctuation-free-of-BPE-tokens
    — here pure whitespace, so the BPE regex matches nothing while the
    whitespace split still yields empty tokens — must keep its audit
    row, carry n_bpe_tokens = 0, and emit an EXPLICIT NULL
    chars_per_token_ppm in BOTH engines (never an engine-accident or a
    crash)."""
    from tfm_taxitrips_spark.queries.text import (
        _FERTILITY_SQL,
        q_tokenizer_fertility_audit,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, [
        (1, "web", "the quick brown fox"),
        (2, "web", "jumps over 42 lazy dogs!"),
        (3, "blank", " "),       # splits to ['', ''] — zero BPE tokens
        (4, "blank", "  "),
        (5, None, "null source stays a real audit row"),
    ])
    actual = q_tokenizer_fertility_audit(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_FERTILITY_SQL).df()
    finally:
        conn.close()
    rec = compare_result(actual.copy(), expected)
    assert rec["hash_match"], rec

    blank = actual[actual["source"] == "blank"].iloc[0]
    assert int(blank["n_bpe_tokens"]) == 0
    assert pd.isna(blank["chars_per_token_ppm"])     # explicit, contractual
    assert int(blank["fertility_ppm"]) == 0          # 0 tokens / 4 words
    assert len(actual) == 3                          # no row vanished


def test_emb_guard_sql_case_and_whitespace_tolerant():
    """r11 advisory #2, pinned: the oracle rewriter must guard a
    lowercase ``from embeddings`` scan, survive a ``WITH`` / ``WITH
    <newline> RECURSIVE`` prefix in any case, and refuse loudly when the
    SQL reads embeddings some way the rewrite can't see."""
    from tfm_taxitrips_spark.queries.vectors import _emb_guard_sql

    # lowercase scan: must be rewritten, not silently left unguarded
    g = _emb_guard_sql("select vec_id from embeddings")
    assert "embeddings_g" in g.split("WITH", 1)[1]
    assert "from embeddings_g" in g

    # WITH with a newline before RECURSIVE: the guard CTE must land
    # AFTER the RECURSIVE keyword, producing valid SQL
    sql = ("WITH\n  RECURSIVE r AS (SELECT 1 AS n)\n"
           "SELECT n FROM r JOIN embeddings ON true")
    g = _emb_guard_sql(sql)
    head = g[:g.index("embeddings_g AS")]
    assert "RECURSIVE" in head.upper()
    assert "JOIN embeddings_g" in g

    # lowercase 'with' CTE prefix
    g = _emb_guard_sql("with x as (select 1) select * from embeddings")
    assert g.lower().count("with") >= 1
    assert "from embeddings_g" in g
    # the guard CTE is spliced into the EXISTING with-list (no second
    # top-level WITH keyword introduced before the original list)
    assert "embeddings_g AS" in g.split("x as", 1)[0]

    # no embeddings scan at all: a caller bug — refuse, don't no-op
    with pytest.raises(ValueError):
        _emb_guard_sql("SELECT 1")


def test_emb_guard_sql_rewrites_execute_in_duckdb(tmp_path):
    """The hardened rewriter's output must still be SQL DuckDB runs —
    for the recursive, lowercase, and plain shapes — against a store
    with a planted malformed row the guard must exclude."""
    import numpy as np

    from tfm_taxitrips_spark.queries.vectors import (
        EMB_MIN_DIMS,
        _emb_guard_sql,
    )

    rng = np.random.RandomState(3)
    rows = [(i, rng.rand(EMB_MIN_DIMS).astype("float32").tolist(), 0)
            for i in range(4)]
    rows.append((99, None, 0))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf.to_parquet(os.path.join(tmp_path, "embeddings.parquet"))
    conn = duckdb.connect()
    conn.sql("CREATE VIEW embeddings AS SELECT * FROM "
             f"'{tmp_path}/embeddings.parquet'")
    try:
        for sql in (
            "select count(*) as n from embeddings",
            "with c as (select vec_id from embeddings) "
            "select count(*) as n from c",
            "WITH\nRECURSIVE r AS (SELECT 1 AS i UNION ALL "
            "SELECT i + 1 FROM r WHERE i < 2) "
            "SELECT count(*) AS n FROM r JOIN embeddings ON true",
        ):
            out = conn.sql(_emb_guard_sql(sql)).df()
            assert int(out["n"].iloc[0]) % 4 == 0   # 99 excluded everywhere
    finally:
        conn.close()


# --------------------------------------------------------------------------
# round-12 operators: exact-Python replays + NULL probes
# --------------------------------------------------------------------------

def _hash60(s: str) -> int:
    """Python twin of functions.text.hash60 / hash60_sql."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _tok(text):
    """Python twin of the whitespace token count with the r12 NULL→0
    contract (COALESCE in both engines). str.split(' ') keeps empty
    tokens exactly like Spark split / DuckDB string_split."""
    return 0 if text is None else len(text.split(" "))


_SKEWED_DOCS = [
    # one giant crawl, one mid source, several small ones, a NULL source
    # and a NULL text — the fixture's uniform sources never exercise the
    # uncapped waterfill branch, so this corpus must
    (1, "web", "w " * 400 + "end"),            # 401 tokens
    (2, "web", "w " * 300 + "end"),            # 301
    (3, "mid", "m " * 80 + "end"),             # 81
    (4, "tiny1", "a b c"),                     # 3
    (5, "tiny2", "a b c d"),                   # 4
    (6, "tiny3", "a b"),                       # 2
    (7, None, "null source doc here"),         # 4, NULL-source stratum
    (8, "tiny1", None),                        # NULL text → 0 tokens
]


def _waterfill_ref(tokens: dict, div: int) -> dict:
    """Exact integer waterfill: sorted ascending by (t, source NULLS
    FIRST); uncapped iff P_{i-1} + t*(n-i+1) <= B; L = (B-P_k) div (n-k)."""
    items = sorted(tokens.items(),
                   key=lambda kv: (kv[1], kv[0] is not None, kv[0] or ""))
    n = len(items)
    total = sum(t for _, t in items)
    budget = total // div
    p = k = pk = 0
    unc = {}
    for idx, (s, t) in enumerate(items, 1):
        unc[s] = p + t * (n - idx + 1) <= budget
        p += t
        if unc[s]:
            k += 1
            pk = p
    level = None if k == n else (budget - pk) // (n - k)
    return {
        s: (t, t if unc[s] else level, 0 if unc[s] else 1, level, budget)
        for s, t in tokens.items()
    }


def test_waterfill_matches_exact_python_reference(spark, tmp_path):
    """Skewed planted corpus: small sources taken whole (uncapped), the
    crawl capped at the level; engine parity AND an independent exact
    integer replay, including the NULL source and NULL text rows."""
    from tfm_taxitrips_spark.queries.dataprep import (
        _WATERFILL_SHARE_DIV,
        _WATERFILL_SQL,
        q_domain_mix_waterfill,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, _SKEWED_DOCS)
    actual = q_domain_mix_waterfill(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_WATERFILL_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]

    tokens: dict = {}
    for _id, src, text in _SKEWED_DOCS:
        tokens[src] = tokens.get(src, 0) + _tok(text)
    ref = _waterfill_ref(tokens, _WATERFILL_SHARE_DIV)
    got = {
        (None if pd.isna(r["source"]) else r["source"]): (
            int(r["n_tok"]), int(r["alloc_tok"]), int(r["capped"]),
            None if pd.isna(r["water_level"]) else int(r["water_level"]),
            int(r["tok_budget"]))
        for _, r in actual.iterrows()
    }
    assert got == ref
    # the planted skew actually exercises BOTH branches
    assert any(c for _t, _a, c, _l, _b in got.values())        # capped
    assert any(not c for _t, _a, c, _l, _b in got.values())    # uncapped
    # allocation honors the budget and maximality: adding one token to
    # any capped source would exceed it only through the level, and the
    # undistributed floor remainder is < number of capped sources
    spent = sum(a for _t, a, _c, _l, _b in got.values())
    budget = next(iter(got.values()))[4]
    n_capped = sum(c for _t, _a, c, _l, _b in got.values())
    assert spent <= budget and budget - spent < max(n_capped, 1)


def test_waterfill_zero_token_corpus_is_explicit(spark, tmp_path):
    """Degenerate probe: a corpus whose every doc is NULL-text (0 tokens
    by the stated contract) has budget 0, every source uncapped with
    alloc 0, and an EXPLICIT NULL water level — in both engines."""
    from tfm_taxitrips_spark.queries.dataprep import (
        _WATERFILL_SQL,
        q_domain_mix_waterfill,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, [(1, "a", None), (2, "b", None)])
    actual = q_domain_mix_waterfill(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_WATERFILL_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    assert list(actual["capped"]) == [0, 0]
    assert list(actual["alloc_tok"]) == [0, 0]
    assert actual["water_level"].isna().all()


def test_kfold_drift_matches_exact_python_reference(spark, tmp_path):
    """Planted corpus incl. NULL source and NULL text: engine parity AND
    an independent exact integer TVD replay (fold hash, grid semantics,
    cross-multiplied numerators)."""
    from tfm_taxitrips_spark.queries.dataprep import (
        _KFOLD_DRIFT_SQL,
        _KFOLD_K,
        q_kfold_label_balance_drift,
    )
    from tests.oracle import compare_result

    docs = _SKEWED_DOCS + [
        (20 + i, f"src{i % 3}", f"doc {i} body text here") for i in range(30)
    ]
    _write_docs(tmp_path, docs)
    actual = q_kfold_label_balance_drift(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_KFOLD_DRIFT_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]

    # exact replay
    cells: dict = {}
    for doc_id, src, text in docs:
        f = _hash60(f"fold:{doc_id}") % _KFOLD_K
        c, t = cells.get((src, f), (0, 0))
        cells[(src, f)] = (c + 1, t + _tok(text))
    sources = {s for s, _f in cells}
    cs = {s: sum(c for (s2, _f), (c, _t) in cells.items() if s2 == s)
          for s in sources}
    ts = {s: sum(t for (s2, _f), (_c, t) in cells.items() if s2 == s)
          for s in sources}
    n_all, t_all = sum(cs.values()), sum(ts.values())
    ref = {}
    for f in range(_KFOLD_K):
        nf = sum(c for (_s, f2), (c, _t) in cells.items() if f2 == f)
        tf = sum(t for (_s, f2), (_c, t) in cells.items() if f2 == f)
        present = sum(1 for s in sources if cells.get((s, f), (0, 0))[0] > 0)
        dnum = sum(abs(cells.get((s, f), (0, 0))[0] * n_all - cs[s] * nf)
                   for s in sources)
        tnum = sum(abs(cells.get((s, f), (0, 0))[1] * t_all - ts[s] * tf)
                   for s in sources)
        ref[f] = (
            present, nf, tf,
            None if nf == 0 else (1_000_000 * dnum) // (2 * nf * n_all),
            None if tf == 0 else (1_000_000 * tnum) // (2 * tf * t_all),
        )
    got = {
        int(r["fold"]): (
            int(r["n_sources_present"]), int(r["n_docs"]),
            int(r["n_tokens"]),
            None if pd.isna(r["doc_tvd_ppm"]) else int(r["doc_tvd_ppm"]),
            None if pd.isna(r["tok_tvd_ppm"]) else int(r["tok_tvd_ppm"]))
        for _, r in actual.iterrows()
    }
    assert got == ref
    assert set(got) == set(range(_KFOLD_K))


def _shingle_set(text: str) -> set:
    """Python twin of functions.text.shingles(lower(text), 3) distinct."""
    w = text.lower().split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


_DUP_DOCS = [
    # identical pair across a NULL source and 'a' — must land in the
    # (NULL, 'a') matrix row, not collapse via least/greatest NULL-skip
    (1, "a", "alpha beta gamma delta epsilon zeta eta theta"),
    (2, None, "alpha beta gamma delta epsilon zeta eta theta"),
    # identical pair with BOTH sides NULL — the (NULL, NULL) row
    (3, None, "iota kappa lambda mu nu xi omicron pi"),
    (4, None, "iota kappa lambda mu nu xi omicron pi"),
    # partial overlap between 'a' and 'b' (mid-curve jaccard)
    (5, "a", "one two three four five six seven eight nine ten"),
    (6, "b", "one two three four five six seven ALT1 ALT2 ALT3"),
    # unique doc: source 'c' must be ABSENT from the matrix
    (7, "c", "totally unrelated content words only here now"),
]


def test_cross_source_dup_matrix_null_source_rows(spark, tmp_path):
    """Round-12 probe finding on the ROUND-4 op, pinned post-fix
    (failing-first: before the fix this test fails with the NULL-pair
    mass misattributed to ('a', 'a')): Spark AND DuckDB
    least/greatest both SKIP NULLs, so a NULL-source doc
    near-duplicating an 'a' doc landed in (a, a) — the provenance
    defect's dup mass silently credited to a's internal duplication,
    with both engines AGREEING (no oracle divergence to catch it).
    After the shared NULLS-FIRST CASE: its own (NULL, 'a') row, a
    both-NULL pair in (NULL, NULL), clean sources absent."""
    from tfm_taxitrips_spark.queries.text import (
        _CROSS_SOURCE_SQL,
        q_cross_source_dup_matrix,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, _DUP_DOCS)
    actual = q_cross_source_dup_matrix(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_CROSS_SOURCE_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]

    got = {
        (None if pd.isna(r["source_lo"]) else r["source_lo"],
         None if pd.isna(r["source_hi"]) else r["source_hi"]):
        int(r["n_dup_pairs"])
        for _, r in actual.iterrows()
    }
    # identical docs share every shingle → same 16-perm signature →
    # same LSH bucket → guaranteed candidates
    assert got[(None, "a")] == 1           # the cross-NULL identical pair
    assert got[(None, None)] == 1          # the both-NULL identical pair
    assert ("a", "a") not in got           # the pre-fix misattribution
    assert all("c" not in k for k in got)  # clean source absent


def test_dedup_threshold_sweep_matches_exact_python_reference(
        spark, tmp_path):
    """The calibration curve replayed in exact Python over the planted
    corpus: per-τ pair and flagged-doc counts from the shingle-set
    jaccards, INCLUDING zero-filled rows for thresholds nothing
    reaches (the curve's decision tail must exist, not vanish)."""
    from tfm_taxitrips_spark.queries.text import (
        _SWEEP_SQL,
        SWEEP_TAUS_PPM,
        q_dedup_threshold_sweep,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, _DUP_DOCS)
    actual = q_dedup_threshold_sweep(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_SWEEP_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]

    sets = {i: _shingle_set(t) for i, _s, t in _DUP_DOCS}
    pairs = []
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            if inter:
                pairs.append(
                    (b, (1_000_000 * inter) // len(sets[a] | sets[b])))
    ref = {
        tau: (sum(1 for _b, j in pairs if j >= tau),
              len({b for b, j in pairs if j >= tau}))
        for tau in SWEEP_TAUS_PPM
    }
    got = {
        int(r["tau_ppm"]): (int(r["n_pairs"]), int(r["n_docs_flagged"]))
        for _, r in actual.iterrows()
    }
    assert got == ref
    assert set(got) == set(SWEEP_TAUS_PPM)          # full spine, always
    # the planted corpus actually produces a non-degenerate curve: some
    # threshold keeps fewer pairs than the loosest one
    assert got[min(SWEEP_TAUS_PPM)][0] > got[max(SWEEP_TAUS_PPM)][0]


def _shard(doc_id: int) -> int:
    """Python twin of the pack-layout shard: hash60('shard:'||id) % 8."""
    import hashlib

    h = hashlib.md5(f"shard:{doc_id}".encode()).hexdigest()
    return int(h[:15], 16) % 8


_PACK_DOCS = [
    # big docs so packs actually fill a 2048-token budget: overflow
    # (bucket 10) where a doc straddles the boundary, underfull shard
    # tails, and a NULL-text doc occupying a slot with zero token mass
    (i, "web", " ".join(["w"] * n))
    for i, n in enumerate([1500, 1300, 900, 2500, 700, 60, 1800, 2100,
                           400, 1200, 2047, 5, 1, 3000, 800], start=1)
] + [(16, "web", None), (17, "web", "tail doc"), (18, "web", " ".join(["x"] * 300))]


def test_packing_report_matches_exact_python_reference(spark, tmp_path):
    """packing_efficiency_report replayed in exact Python ints over a
    planted corpus: the shared _pack_layout (shard hash, doc_id order,
    tokens-before div budget) re-derived independently, then the decile
    histogram with padding and overflow sums — engine parity AND replay
    agreement, including the NULL-text doc (0 tokens by contract) and a
    genuinely overflowing boundary pack."""
    from tfm_taxitrips_spark.queries.dataprep import (
        _PACK_BUDGET,
        _PACK_REPORT_SQL,
        _UTIL_BUCKETS,
        q_packing_efficiency_report,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, _PACK_DOCS)
    actual = q_packing_efficiency_report(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_PACK_REPORT_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]

    packs: dict = {}
    before: dict = {}
    for doc_id, _src, text in sorted(_PACK_DOCS):
        sh, nt = _shard(doc_id), _tok(text)
        pid = before.get(sh, 0) // _PACK_BUDGET
        nd, pt = packs.get((sh, pid), (0, 0))
        packs[(sh, pid)] = (nd + 1, pt + nt)
        before[sh] = before.get(sh, 0) + nt
    hist: dict = {}
    for (_sh, _pid), (nd, pt) in packs.items():
        b = min(pt * _UTIL_BUCKETS // _PACK_BUDGET, _UTIL_BUCKETS)
        np_, ndoc, ptok, pad, ovf = hist.get(b, (0, 0, 0, 0, 0))
        hist[b] = (np_ + 1, ndoc + nd, ptok + pt,
                   pad + max(_PACK_BUDGET - pt, 0),
                   ovf + max(pt - _PACK_BUDGET, 0))
    got = {
        int(r["util_bucket"]): (
            int(r["n_packs"]), int(r["n_docs"]), int(r["pack_tokens"]),
            int(r["padding_tokens"]), int(r["overflow_tokens"]))
        for _, r in actual.iterrows()
    }
    assert got == hist
    # the planted corpus is non-degenerate: at least one overflowing
    # full pack (bucket 10 with overflow) AND one underfull tail
    assert 10 in got and got[10][4] > 0
    assert any(b < 10 and v[3] > 0 for b, v in got.items())


_CURVE_DOCS = [
    # 'good': mostly passing docs; one short fail; one NULL text
    (1, "good", " ".join(["tok"] * 30)),
    (2, "good", " ".join(["tok"] * 40)),
    (3, "good", " ".join(["tok"] * 25)),
    (4, "good", "short fail"),
    (5, "good", None),
    # 'mid': ≥20 tokens but <100 chars — tokens counted, gate failed
    (6, "mid", " ".join(["a"] * 25)),
    (7, "mid", " ".join(["tok"] * 50)),
    # 'bad': nothing passes
    (8, "bad", "tiny"),
    (9, "bad", "also tiny"),
    # NULL source: a real audit row, passing doc
    (10, None, " ".join(["tok"] * 35)),
    # 'empty': all NULL text → tok_total 0 → explicit NULL ppm, ranks last
    (11, "empty", None),
    (12, "empty", None),
]


def test_quality_mix_curve_matches_exact_python_reference(spark, tmp_path):
    """source_quality_mix_curve replayed in exact Python ints: per-source
    gate stats, ppm ratios, the (ppm DESC NULLS LAST, source ASC NULLS
    FIRST) ranking and the cumulative share — engine parity AND replay,
    including the NULL source row, NULL-text docs, and a zero-token
    source whose pass rate is an EXPLICIT NULL ranking last."""
    from tfm_taxitrips_spark.queries.text import (
        _QUALITY_MIX_CURVE_SQL,
        QGATE_MIN_CHARS,
        QGATE_MIN_TOKENS,
        q_source_quality_mix_curve,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, _CURVE_DOCS)
    actual = q_source_quality_mix_curve(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_QUALITY_MIX_CURVE_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]

    per: dict = {}
    for _id, src, text in _CURVE_DOCS:
        nt = _tok(text)
        ok = nt >= QGATE_MIN_TOKENS and (
            0 if text is None else len(text)) >= QGATE_MIN_CHARS
        nd, npass, tt, tp = per.get(src, (0, 0, 0, 0))
        per[src] = (nd + 1, npass + ok, tt + nt, tp + (nt if ok else 0))
    rows = []
    for src, (nd, npass, tt, tp) in per.items():
        ppm = None if tt == 0 else tp * 1_000_000 // tt
        rows.append((src, nd, npass, tt, tp, ppm))
    # ppm DESC NULLS LAST, source ASC NULLS FIRST (source unique → total)
    rows.sort(key=lambda r: (r[5] is None, -(r[5] or 0),
                             r[0] is not None, r[0] or ""))
    all_pass = sum(r[4] for r in rows)
    ref, cum = {}, 0
    for rank, (src, nd, npass, tt, tp, ppm) in enumerate(rows, start=1):
        cum += tp
        ref[src] = (nd, npass, npass * 1_000_000 // nd, tt, tp, ppm, rank,
                    cum, None if all_pass == 0
                    else cum * 1_000_000 // all_pass)
    got = {
        (None if pd.isna(r["source"]) else r["source"]): (
            int(r["n_docs"]), int(r["n_pass_docs"]), int(r["doc_pass_ppm"]),
            int(r["tok_total"]), int(r["tok_pass"]),
            None if pd.isna(r["tok_pass_ppm"]) else int(r["tok_pass_ppm"]),
            int(r["quality_rank"]), int(r["cum_pass_tok"]),
            None if pd.isna(r["cum_share_ppm"]) else int(r["cum_share_ppm"]))
        for _, r in actual.iterrows()
    }
    assert got == ref
    # non-degenerate probe: the zero-token source exists, has an explicit
    # NULL rate, and ranks LAST; the NULL source is a real row
    assert got["empty"][5] is None and got["empty"][6] == len(rows)
    assert None in got
    # the curve ends at exactly 10⁶ ppm (full surviving mass covered)
    assert max(v[8] for v in got.values() if v[8] is not None) == 1_000_000


def _write_embs(tmp_path, rows, dim=16):
    """rows: list[(vec_id, embedding_list_or_None, label_or_None)]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], pa.int32()),
    })
    pq.write_table(t, os.path.join(tmp_path, "embeddings.parquet"))


def test_emb_guard_excludes_zero_norm_and_null_element(spark, tmp_path):
    """r12 guard extension (found by tools/null_probe_sweep.py, the
    registry-wide NULL-probe): a ZERO-NORM vector crashed Spark's ANSI
    cosine divide in 15 queries, and a NULL-ELEMENT vector crashed
    DuckDB's whole-batch list_inner_product in 3 — both now excluded at
    the ONE seam with its oracle twin. Pin: only well-formed vectors
    survive, and a cosine-path query runs parity-green over a store
    planted with every defect class."""
    from tfm_taxitrips_spark.queries.registry import all_queries
    from tfm_taxitrips_spark.queries.vectors import emb_table
    from tests.oracle import compare_result

    good = [float(i + 1) for i in range(16)]
    _write_embs(tmp_path, [
        (0, good, 0),
        (1, [v * 2 for v in good], 1),
        (2, None, 0),                          # NULL vector (r11 class)
        (3, [1.0, 2.0, 3.0], 1),               # short vector (r11 class)
        (4, [0.0] * 16, 0),                    # zero-norm (r12 class)
        (5, [1.0] * 15 + [None], 1),           # NULL element (r12 class)
    ])
    kept = sorted(
        r.vec_id for r in emb_table(spark, str(tmp_path)).collect())
    assert kept == [0, 1]

    spec = all_queries()["embedding_norms"]
    actual = spec.fn(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW embeddings AS SELECT * FROM "
             f"'{tmp_path}/embeddings.parquet'")
    try:
        expected = conn.sql(spec.oracle).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    assert sorted(actual["vec_id"]) == [0, 1]


def test_blob_ops_exclude_null_text_payload(spark, tmp_path):
    """attach_blob's r12 contract: a NULL text has no payload — the row
    is excluded at the seam instead of crashing every mapInPandas worker
    on len(None), and all five blob oracles mirror the filter."""
    from tfm_taxitrips_spark.queries.multimodal import QUERIES
    from tests.oracle import compare_result

    _write_docs(tmp_path, [
        (1, "web", "a real payload with several words"),
        (2, "web", None),                       # no payload, by contract
        (3, "web", ""),                         # empty payload is REAL
    ])
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        for name in ("blob_features", "blob_metadata"):
            spec = QUERIES[name]
            actual = spec.fn(spark, str(tmp_path)).toPandas()
            expected = conn.sql(spec.oracle).df()
            assert compare_result(
                actual.copy(), expected)["hash_match"], name
            assert sorted(actual["doc_id"]) == [1, 3], name
    finally:
        conn.close()


def test_doc_chunking_null_text_excluded(spark, tmp_path):
    """r12 contract: a NULL-text doc has nothing to chunk. Before the
    fix the row survived as one ghost chunk whose chunk_text was '' in
    Spark (concat_ws over NULL) but NULL in DuckDB (array_to_string) —
    an engine-divergent accident the sweep caught."""
    from tfm_taxitrips_spark.queries.dataprep import (
        _DOC_CHUNK_SQL,
        q_doc_chunking,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, [
        (1, "web", " ".join(f"w{i}" for i in range(100))),
        (2, "web", None),
        (3, "web", "short tail"),
    ])
    actual = q_doc_chunking(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_DOC_CHUNK_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    assert set(actual["doc_id"]) == {1, 3}


def test_sink_compaction_counts_null_source_partition(spark, tmp_path):
    """r12 probe finding: partitionBy writes NULL-source rows to a REAL
    __HIVE_DEFAULT_PARTITION__ directory (one compacted file), but
    count_distinct skipped NULL — Spark under-reported the partition
    population its own rewrite produced while the oracle's GROUP BY
    counted it. n_sources now counts the NULL bucket."""
    from tfm_taxitrips_spark.queries.sinkq import (
        _COMPACT_SQL,
        q_sink_compaction_roundtrip,
    )
    from tests.oracle import compare_result

    _write_docs(tmp_path, [
        (1, "a", "one"), (2, "a", "two"), (3, "b", "three"),
        (4, None, "null-source row"), (5, None, "another"),
    ])
    actual = q_sink_compaction_roundtrip(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_COMPACT_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    assert int(actual["n_sources"].iloc[0]) == 3   # a, b, NULL bucket
    assert int(actual["n_files_compacted"].iloc[0]) == 3


def _write_events(tmp_path, rows):
    """rows: list[(event_id, ts_or_None, user_id, event_type, value,
    props)] — ts as pandas Timestamp or None."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([r[4] for r in rows], pa.float64()),
        "props": pa.array([r[5] for r in rows], pa.string()),
    })
    pq.write_table(t, os.path.join(tmp_path, "events.parquet"))


_T0 = pd.Timestamp("2024-01-01 10:00:00")


def test_events_guard_contract_and_raw_escape(spark, tmp_path):
    """The r12 telemetry ingest contract (sources.readers.events_guard,
    found by the adversarial sweep): NULL-ts rows are excluded (an event
    without a time cannot be windowed — watermarked streaming silently
    dropped them while batch oracles kept them), a NaN value normalizes
    to NULL (one NaN crashed 11 oracle casts and 2 stateful streams),
    and ``raw=True`` bypasses both — the defect-detection escape
    ``data_contract_audit`` rides (a NaN must NOT read as NULL to its
    value_null rule)."""
    from tfm_taxitrips_spark.sources.readers import table

    _write_events(tmp_path, [
        (1, _T0, 1, "click", 1.0, "{}"),
        (2, None, 1, "click", 2.0, "{}"),             # NULL ts: excluded
        (3, _T0, 2, "view", float("nan"), "{}"),      # NaN → NULL value
        (4, _T0, None, None, None, None),             # all else NULL: kept
    ])
    guarded = table(spark, str(tmp_path), "events").toPandas()
    assert sorted(guarded["event_id"]) == [1, 3, 4]
    nan_row = guarded[guarded.event_id == 3]["value"]
    assert nan_row.isna().all()          # normalized, not NaN-propagated

    raw = table(spark, str(tmp_path), "events", raw=True).toPandas()
    assert sorted(raw["event_id"]) == [1, 2, 3, 4]
    import math
    raw_v = raw[raw.event_id == 3]["value"].iloc[0]
    assert math.isnan(raw_v)             # raw keeps the defect visible


def test_null_event_type_stratum_survives_rank_joins(spark, tmp_path):
    """r12 sweep finding (the cross_source_dup_matrix class, this time
    engine-DIVERGENT): exact_grouped_median and equi_depth_histogram
    grouped by event_type but JOINED their rank lookups on it — a NULL
    event_type stratum survived every GROUP BY and then silently fell
    out of the plain equi-join, while the oracle's correlated lookup
    kept the row. Now eqNullSafe / IS NOT DISTINCT FROM in both engines:
    the NULL stratum gets a real median and real boundaries."""
    from tfm_taxitrips_spark.queries.analytics import (
        _EXACT_MEDIAN_SQL,
        q_exact_grouped_median,
    )
    from tests.oracle import compare_result

    _write_events(tmp_path, [
        (1, _T0, 1, "click", 1.00, "{}"),
        (2, _T0, 1, "click", 3.00, "{}"),
        (3, _T0, 2, None, 5.00, "{}"),    # NULL-type stratum, 2 values
        (4, _T0, 2, None, 7.00, "{}"),
    ])
    actual = q_exact_grouped_median(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW events AS SELECT * FROM "
             f"'{tmp_path}/events.parquet'")
    try:
        expected = conn.sql(_EXACT_MEDIAN_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    null_row = actual[actual["event_type"].isna()]
    assert len(null_row) == 1            # the stratum is REAL
    # doubled median of {500, 700} cents = 500 + 700
    assert int(null_row["median2_cents"].iloc[0]) == 1200


def test_json_extract_malformed_props_yield_null(spark, tmp_path):
    """r12 contract: malformed JSON yields a NULL field, matching
    Spark's lenient from_json — DuckDB's json functions ERROR on broken
    input, so the oracle guards with json_valid."""
    import __spark_entry__ as e

    _write_events(tmp_path, [
        (1, _T0, 1, "click", 1.0, '{"k": 42}'),
        (2, _T0, 1, "click", 1.0, "not json {"),
        (3, _T0, 1, "click", 1.0, None),
    ])
    from tests.oracle import compare_result

    qs, oracles = e.queries(), e.oracle_sql()
    actual = qs["json_extract"](spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW events AS SELECT * FROM "
             f"'{tmp_path}/events.parquet'")
    try:
        expected = conn.sql(oracles["json_extract"]).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    got = {int(r["event_id"]): (None if pd.isna(r["k"]) else int(r["k"]))
           for _, r in actual.iterrows()}
    assert got == {1: 42, 2: None, 3: None}


def test_stream_running_totals_null_value_contract(spark, tmp_path):
    """The stateful running-total operator's NULL-value contract (r12
    sweep: a NULL value reached pandas as NaN and int(NaN) killed the
    worker): NULL value = 0 cents, the row still counts in run_n, oracle
    mirrors with SUM(COALESCE(...)). The planted user's FIRST event has
    the NULL value — the case where a skip-NULL oracle would emit NULL
    while the operator emits 0.00."""
    import __spark_entry__ as e
    from tests.oracle import compare_result

    _write_events(tmp_path, [
        (1, _T0, 1, "click", None, "{}"),                      # first: NULL
        (2, _T0 + pd.Timedelta(minutes=1), 1, "click", 2.50, "{}"),
        (3, _T0 + pd.Timedelta(minutes=2), 1, "click", 1.25, "{}"),
    ])
    qs, oracles = e.queries(), e.oracle_sql()
    actual = qs["stream_running_totals"](spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW events AS SELECT * FROM "
             f"'{tmp_path}/events.parquet'")
    try:
        expected = conn.sql(oracles["stream_running_totals"]).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    by_id = actual.sort_values("event_id")
    assert list(by_id["run_n"]) == [1, 2, 3]
    assert list(by_id["run_value"]) == [0.0, 2.5, 3.75]


def test_ascii_lower_is_the_portable_casefold(spark, tmp_path):
    """r12 unicode sweep: full Unicode lowercasing is ENGINE-DEFINED on
    special-mapping codepoints — Spark/Java folds Turkish 'İ' (U+0130)
    to 'i'+U+0307 (TWO codepoints) while DuckDB/utf8proc gives plain
    'i' — which silently split every lower()-built fingerprint, dedup
    key, shingle, and vocab entry (7 queries diverged). The repo's
    canonical casefold is now ASCII-scope translate() in both engines:
    bit-identical everywhere, non-Latin case pairs stay distinct by
    stated contract. Pin: the two implementations agree on the
    adversarial text, and a fingerprint query is parity-green over a
    multibyte corpus."""
    import duckdb as ddb

    from tfm_taxitrips_spark.functions.text import (
        ascii_lower,
        ascii_lower_sql,
    )
    from tfm_taxitrips_spark.queries.registry import all_queries
    from tests.oracle import compare_result

    s = "ÇOĞU İstanbul ΜΕΓΑ ТЕКСТ Straße MIXED ascii"
    import pyspark.sql.functions as F
    sp = spark.range(1).select(ascii_lower(F.lit(s)).alias("l")) \
        .collect()[0].l
    conn = ddb.connect()
    dk = conn.sql(f"SELECT {ascii_lower_sql('$s')} AS l",
                  params={"s": s}).fetchone()[0]
    assert sp == dk
    assert "İstanbul" in sp          # non-ASCII İ untouched, by contract
    assert "mixed ascii" in sp       # A-Z folded

    _write_docs(tmp_path, [
        (1, "web", "İstanbul İstanbul " + "tok " * 25),
        (2, "web", "istanbul istanbul " + "tok " * 25),
        (3, "web", "ΜΕΓΑ φύση straße " + "tok " * 25),
    ])
    spec = all_queries()["text_fingerprint"]
    actual = spec.fn(spark, str(tmp_path)).toPandas()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(spec.oracle).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    # and the contract's trade, stated: İ-docs do NOT collide with
    # i-docs (distinct canonical forms → distinct fingerprints)
    fps = actual.set_index("doc_id")["fp_md5"]
    assert fps[1] != fps[2]


def test_auc_excludes_unscorable_rows(spark, tmp_path):
    """r12 sweep: a NULL-score positive sorted NULLS FIRST in Spark's
    cumulative window but NULLS LAST in DuckDB's, shifting its
    tie-credit and the AUC. Contract: an unrankable (NULL n_chars) row
    is excluded from the ranking statistic in both engines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tfm_taxitrips_spark.queries.registry import all_queries
    from tests.oracle import compare_result

    t = pa.table({
        "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "text": pa.array(["a"] * 5, pa.string()),
        "lang": pa.array(["en", "en", "fr", "fr", "en"], pa.string()),
        "source": pa.array(["web"] * 5, pa.string()),
        "n_chars": pa.array([10, 20, 15, 25, None], pa.int64()),
    })
    pq.write_table(t, os.path.join(tmp_path, "documents.parquet"))
    spec = all_queries()["auc_score_eval"]
    actual = spec.fn(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(spec.oracle).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    row = actual.iloc[0]
    # the NULL-score 'en' doc is excluded: 2 pos, 2 neg remain;
    # exact AUC of scores en={10,20} vs fr={15,25}: one en above one fr
    # → 2U = 2·(1) + ... replayed: pairs (10<15,10<25,20>15,20<25) → U=1
    # → AUC = 1/4 = 250000 ppm
    assert (int(row["n_pos"]), int(row["n_neg"])) == (2, 2)
    assert int(row["auc_ppm"]) == 250000


def test_bpe_training_caps_overlong_words(spark, tmp_path):
    """r12 hazard closure: one 50k-char no-space token stalled BPE merge
    training ~10 min at sf0.001 (per-word char-pair explode). Words
    longer than BPE_MAX_WORD_CHARS are now excluded from training in
    both engines — the planted overlong token must not influence the
    learned merges, and the query stays parity-green and FAST."""
    from tfm_taxitrips_spark.queries.text import (
        _BPE_MERGE_SQL,
        BPE_MAX_WORD_CHARS,
        q_bpe_merge_induction,
    )
    from tests.oracle import compare_result

    base = "pair pair pair pair mate mate mate " * 4
    _write_docs(tmp_path, [
        (1, "web", base),
        (2, "web", base + " " + "z" * (BPE_MAX_WORD_CHARS * 50)),
    ])
    actual = q_bpe_merge_induction(spark, str(tmp_path)).toPandas()
    conn = duckdb.connect()
    conn.sql("CREATE VIEW documents AS SELECT * FROM "
             f"'{tmp_path}/documents.parquet'")
    try:
        expected = conn.sql(_BPE_MERGE_SQL).df()
    finally:
        conn.close()
    assert compare_result(actual.copy(), expected)["hash_match"]
    # the overlong z-run would dominate every pair count were it not
    # excluded — the learned merges must come from the real words
    assert not any("z" in str(l) for l in actual["lhs"])
