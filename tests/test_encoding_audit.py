"""Staged encoding-damage audit (`queries/encoding.py`): fixture
differential, a pure-Python replay of the derivation + detectors
(the third-opinion discipline that caught the blob family's
descending-sequence bug), hand-written damaged-string units, the
zero-char ppm guard, NULL gating, and the staging pin."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from tests.oracle import compare
from tests.test_blobdedup import _duck_rows
from tests.test_round13_ops import _write_docs
from tfm_taxitrips_spark.queries.encoding import (
    _C1_TAIL,
    _MODES,
    _MOJI_TAIL,
    _REPL_TAIL,
    C1_CHARS,
    MOJIBAKE_SEQS,
    NBSP,
    QUERIES,
    REPLACEMENT_CHAR,
    damage_char_counts,
    q_encoding_damage_audit,
)

# --------------------------------------------------------------------------
# differential twin
# --------------------------------------------------------------------------


def test_audit_matches_oracle_and_fires(spark, sf_smoke):
    df = q_encoding_damage_audit(spark, sf_smoke)
    compare(df, QUERIES["encoding_damage_audit"].oracle, sf_smoke,
            name="encoding_damage_audit")
    rows = df.collect()
    # the planted-damage adapter must actually fire: 5 of 20 modes
    # damage a doc, so some source shows nonzero ppm somewhere
    assert sum(r.damaged_docs for r in rows) > 0
    assert any(r.mojibake_ppm > 0 for r in rows)


# --------------------------------------------------------------------------
# pure-Python replay (derivation + detectors)
# --------------------------------------------------------------------------


def _py_mode(doc_id: int) -> int:
    h = hashlib.md5(f"enc:{doc_id}".encode()).hexdigest()
    return int(h[:15], 16) % _MODES


def _py_derived(doc_id: int, text: str) -> str:
    m = _py_mode(doc_id)
    if m <= 1:
        return text + _MOJI_TAIL
    if m == 2:
        return text + _REPL_TAIL
    if m == 3:
        return text + _C1_TAIL
    if m == 4:
        return text.replace(" ", NBSP)
    return text


def _py_damaged_chars(t: str, seqs: tuple[str, ...]) -> int:
    s = t
    for q in seqs:
        s = s.replace(q, "")
    return len(t) - len(s)


def _py_doc_counts(t: str) -> tuple[int, int, int, int]:
    return (
        _py_damaged_chars(t, MOJIBAKE_SEQS),
        _py_damaged_chars(t, (REPLACEMENT_CHAR,)),
        _py_damaged_chars(t, C1_CHARS),
        _py_damaged_chars(t, (NBSP,)),
    )


def test_audit_matches_python_replay(spark, tmp_path):
    """Replay the full per-source aggregation in Python over a corpus
    big enough that every damage mode fires (doc ids 0..199 cover all
    20 residues), with pre-damaged rows mixed in so detectors see
    damage from BOTH the adapter and the raw text."""
    import random

    rng = random.Random(0xEC0)
    # damage tokens built from the module constants — NEVER as literal
    # invisible chars in source (the banked escape-only rule)
    words = ["word", "another", "Ã©", "thing", "â€™", "plain",
             REPLACEMENT_CHAR, "x" + C1_CHARS[0], "y" + NBSP, ""]
    rows = []
    for i in range(200):
        base = " ".join(rng.choice(words)
                        for _ in range(rng.randrange(0, 30)))
        rows.append((i, f"s{i % 4}", base))
    _write_docs(tmp_path, rows)
    got = {r.source: r
           for r in q_encoding_damage_audit(spark, str(tmp_path)).collect()}

    expect: dict[str, dict[str, int]] = {}
    for doc_id, source, text in rows:
        t = _py_derived(doc_id, text)
        moji, repl, c1, nbsp = _py_doc_counts(t)
        e = expect.setdefault(source, {k: 0 for k in
                              ("n_docs", "damaged", "chars",
                               "moji", "repl", "c1", "nbsp")})
        e["n_docs"] += 1
        e["damaged"] += 1 if (moji + repl + c1 + nbsp) > 0 else 0
        e["chars"] += len(t)
        e["moji"] += moji; e["repl"] += repl; e["c1"] += c1; e["nbsp"] += nbsp

    assert set(got) == set(expect)
    for s, e in expect.items():
        r = got[s]
        assert r.n_docs == e["n_docs"], s
        assert r.damaged_docs == e["damaged"], s
        assert r.chars_total == e["chars"], s
        for col, k in (("mojibake_ppm", "moji"), ("replacement_ppm", "repl"),
                       ("c1_ppm", "c1"), ("nbsp_ppm", "nbsp")):
            want = 0 if e["chars"] == 0 else (e[k] * 1000000) // e["chars"]
            assert r[col] == want, (s, col)
    # and the oracle agrees on the same synthetic corpus — derived from
    # the rows ALREADY collected (the query's column order is the
    # oracle's), not a second Spark run
    spark_rows = sorted(tuple(r) for r in got.values())
    assert spark_rows == _duck_rows(
        tmp_path, QUERIES["encoding_damage_audit"].oracle)


# --------------------------------------------------------------------------
# detector units on hand-written damage
# --------------------------------------------------------------------------


def test_detector_counts_hand_written_cases(spark):
    cases = [
        # (text, moji, repl, c1, nbsp) — damaged CHAR counts
        ("clean ascii text", 0, 0, 0, 0),
        ("café résumé", 0, 0, 0, 0),   # real accents: NOT mojibake
        ("cafÃ© naÃ¯ve?", 2, 0, 0, 0),                # Ã© counts (Ã¯ not in list)
        ("itâ€™s here", 3, 0, 0, 0),
        ("lost" + REPLACEMENT_CHAR * 2 + "bytes", 0, 2, 0, 0),
        ("a" + C1_CHARS[0] + "b" + C1_CHARS[1] + "c", 0, 0, 2, 0),
        ("non" + NBSP + "breaking" + NBSP + "space", 0, 0, 0, 2),
        ("Ã©" + REPLACEMENT_CHAR + C1_CHARS[0] + NBSP, 2, 1, 1, 1),          # one of each class
        ("", 0, 0, 0, 0),
    ]
    df = spark.createDataFrame([(t,) for t, *_ in cases], "t string")
    counts = damage_char_counts(F.col("t"))
    got = df.select("t", *[c.alias(k) for k, c in counts.items()]).collect()
    by_text = {r.t: r for r in got}
    for t, moji, repl, c1, nbsp in cases:
        r = by_text[t]
        assert (r.moji_chars, r.repl_chars, r.c1_chars, r.nbsp_chars) == \
            (moji, repl, c1, nbsp), t


def test_interleaved_splice_undercounts_by_design(spark):
    """Pin the documented replace-chain limitation (see
    ``damage_char_counts``): stripping one sequence can splice a new
    occurrence of an earlier sequence together, which the fixed-order
    chain never revisits — moji counts 3 (the â€™), not 5, and the
    behavior is IDENTICAL in the Python replay, so the differential can
    never trip on it. If this test starts failing with 5, the chain
    gained fixpoint iteration and the docstring + this pin must move
    together."""
    spliced = "Ã" + "â€™" + "©"
    df = spark.createDataFrame([(spliced,)], "t string")
    counts = damage_char_counts(F.col("t"))
    r = df.select(*[c.alias(k) for k, c in counts.items()]).collect()[0]
    assert r.moji_chars == 3
    assert _py_damaged_chars(spliced, MOJIBAKE_SEQS) == 3


# --------------------------------------------------------------------------
# edge guards
# --------------------------------------------------------------------------


def test_all_empty_source_reads_zero_ppm_not_crash(spark, tmp_path):
    """A source whose every doc is empty (and whose doc ids land on
    clean/append-free modes is not guaranteed — so chars_total may be 0
    or tail-sized): pick ids whose mode is 'clean' so chars_total == 0,
    hitting the division guard on BOTH engines."""
    clean_ids = [i for i in range(200) if _py_mode(i) >= 5][:3]
    assert len(clean_ids) == 3
    _write_docs(tmp_path, [(i, "empty_src", "") for i in clean_ids])
    rows = q_encoding_damage_audit(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.chars_total == 0
    assert (r.replacement_ppm, r.mojibake_ppm, r.c1_ppm, r.nbsp_ppm) == \
        (0, 0, 0, 0)
    assert sorted(tuple(x) for x in rows) == _duck_rows(
        tmp_path, QUERIES["encoding_damage_audit"].oracle)


def test_null_text_rows_are_gated_out(spark, tmp_path):
    _write_docs(tmp_path, [(1, "a", "hello world"), (2, "a", None),
                           (3, "b", None)])
    rows = q_encoding_damage_audit(spark, str(tmp_path)).collect()
    # source b had only NULL texts → no audit row at all
    assert sorted(r.source for r in rows) == ["a"]
    assert rows[0].n_docs == 1


def test_ppm_int64_identity_in_both_engines(spark):
    """Pin the exact-floor decomposition AS GENERATED SQL, evaluated by
    both real engines over a seeded (num, den) sweep that includes the
    int64-overflow region the naive form dies in (den up to 9e15,
    num ≤ den) — expected values from Python's arbitrary-precision
    `(num * 10**6) // den`. This is the in-tree form of the 200k-pair
    property check the module docstring cites."""
    import random

    import duckdb

    from tfm_taxitrips_spark.queries.encoding import _ppm_int64

    rng = random.Random(0x99)
    pairs = []
    for _ in range(300):
        den = rng.randrange(1, 9_000_000_000_000_000)
        pairs.append((rng.randrange(0, den + 1), den))
    # edge rows: num==0, num==den, den==1, and the exact overflow edge
    pairs += [(0, 1), (1, 1), (5, 5), (9_223_372_036_854, 9_223_372_036_855),
              (8_999_999_999_999_999, 9_000_000_000_000_000 - 1)]
    assert len(set(pairs)) == len(pairs)  # keyed compare needs uniqueness
    expected = sorted((n, d, (n * 1_000_000) // d) for n, d in pairs)
    expr = _ppm_int64("num", "den")

    sdf = spark.createDataFrame(pairs, "num long, den long")
    got_spark = sorted(
        (r.num, r.den, r.ppm) for r in
        sdf.selectExpr("num", "den",
                       f"CAST({expr} AS BIGINT) AS ppm").collect())
    assert got_spark == expected

    con = duckdb.connect()
    con.execute("CREATE TABLE p(num BIGINT, den BIGINT)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    got_duck = sorted(tuple(r) for r in con.execute(
        f"SELECT num, den, CAST({expr.replace(' div ', ' // ')} AS BIGINT) "
        f"FROM p").fetchall())
    assert got_duck == expected


# --------------------------------------------------------------------------
# registration pin (the staging pin flipped at the r18 freeze)
# --------------------------------------------------------------------------


def test_family_is_registered():
    """Flipped at the r18 freeze (was the r17 staging pin)."""
    from tfm_taxitrips_spark.queries.registry import all_queries

    assert "encoding_damage_audit" in set(all_queries())
    for name, spec in QUERIES.items():
        assert callable(spec.fn), name
        assert spec.oracle and "SELECT" in spec.oracle.upper(), name
        assert spec.tags, name
