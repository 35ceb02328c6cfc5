"""Staged blob near-dup family (`queries/blobdedup.py`): differential
twins at two SFs, a pure-Python third-opinion replay of the signature,
behavioral pins on synthetic corpora (exact dup, one-byte flip,
sub-window payload, NULL gate, the band df-cap contract), and the
staging pin that fails loudly if the family reaches the registry while
the module still says "staged".
"""

from __future__ import annotations

import hashlib

import pytest

from tests.oracle import compare
from tests.test_round13_ops import _write_docs
from tfm_taxitrips_spark.queries.blobdedup import (
    BAND_BITS,
    BAND_DF_CAP,
    BANDS,
    BLOB_STRIDE,
    BLOB_WIN,
    HAMMING_MAX,
    QUERIES,
    SIG_BITS,
    q_blob_dup_candidates,
    q_blob_simhash,
)

# --------------------------------------------------------------------------
# differential twins (the registration-readiness bar)
# --------------------------------------------------------------------------


def test_blob_simhash_matches_oracle(spark, sf_smoke):
    df = q_blob_simhash(spark, sf_smoke)
    compare(df, QUERIES["blob_simhash"].oracle, sf_smoke, name="blob_simhash")


def test_blob_dup_candidates_match_oracle_and_fire(spark, sf_smoke):
    df = q_blob_dup_candidates(spark, sf_smoke)
    compare(df, QUERIES["blob_dup_candidates"].oracle, sf_smoke,
            name="blob_dup_candidates")
    # the fixture has exact-dup texts, so the family must actually fire
    assert df.count() > 0


# --------------------------------------------------------------------------
# pure-Python replay: a third independent implementation of the signature
# --------------------------------------------------------------------------


def _py_signature(payload: bytes) -> tuple[int, list[int]]:
    """Engine-free replica of the 60-bit byte SimHash."""
    n_wins = (len(payload) - BLOB_WIN) // BLOB_STRIDE + 1 if len(payload) >= BLOB_WIN else 0
    votes = [0] * SIG_BITS
    hx = payload.hex().upper()
    for i in range(n_wins):
        win = hx[i * BLOB_STRIDE * 2: i * BLOB_STRIDE * 2 + BLOB_WIN * 2]
        h = int(hashlib.md5(f"bsh:{win}".encode()).hexdigest()[:15], 16)
        for b in range(SIG_BITS):
            votes[b] += 1 if (h >> b) & 1 else -1
    bands = []
    for k in range(BANDS):
        bands.append(sum(1 << i for i in range(BAND_BITS)
                         if votes[BAND_BITS * k + i] > 0))
    return n_wins, bands


def test_signature_matches_python_replay(spark, tmp_path):
    texts = {
        1: "the quick brown fox jumps over the lazy dog " * 4,
        2: "abc",               # sub-window: zero windows, all-zero bands
        3: "abcd",              # exactly one window
        4: "payload with UTF-8 bytes: éèê end",  # multibyte
    }
    _write_docs(tmp_path, [(i, "s", t) for i, t in texts.items()])
    got = {r.doc_id: r for r in q_blob_simhash(spark, str(tmp_path)).collect()}
    assert set(got) == set(texts)
    for i, t in texts.items():
        n_wins, bands = _py_signature(t.encode("utf-8"))
        assert got[i].n_wins == n_wins, i
        assert [got[i][f"band{k}"] for k in range(BANDS)] == bands, i


def test_signature_fuzz_batched_vs_replay(spark, tmp_path):
    """Seeded fuzz: 60 random payloads (ASCII + multibyte + edge
    lengths 0..~200, including sizes that straddle the window/stride
    boundary) through ONE DataFrame pass, each checked against the
    pure-Python replay — the fuzz arm of the third-opinion test that
    caught the descending-sequence bug."""
    import random

    rng = random.Random(0xB10B)
    alphabet = "abcdefgh XYZ0123!?éü…"
    texts = {}
    for i in range(60):
        # force coverage of the 0..BLOB_WIN+BLOB_STRIDE edge sizes first
        n = i if i <= BLOB_WIN + BLOB_STRIDE else rng.randrange(0, 200)
        texts[i + 1] = "".join(rng.choice(alphabet) for _ in range(n))
    _write_docs(tmp_path, [(i, "s", t) for i, t in texts.items()])
    got = {r.doc_id: r for r in q_blob_simhash(spark, str(tmp_path)).collect()}
    assert set(got) == set(texts)
    for i, t in texts.items():
        n_wins, bands = _py_signature(t.encode("utf-8"))
        assert got[i].n_wins == n_wins, (i, t)
        assert [got[i][f"band{k}"] for k in range(BANDS)] == bands, (i, t)


# --------------------------------------------------------------------------
# behavioral pins on synthetic corpora
# --------------------------------------------------------------------------

def _duck_rows(tmp_path, oracle: str) -> list[tuple]:
    """Run an oracle on a synthetic dir that has ONLY documents.parquet
    (tests/oracle.duck_connection registers every fixture table, which a
    synthetic corpus doesn't have)."""
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    return sorted(con.execute(oracle).fetchall())


_LONG = ("in a hole in the ground there lived a hobbit not a nasty dirty "
         "wet hole filled with the ends of worms and an oozy smell nor yet "
         "a dry bare sandy hole with nothing in it to sit down on or to "
         "eat it was a hobbit hole and that means comfort " * 2)


def test_exact_dup_pair_hamming_zero(spark, tmp_path):
    _write_docs(tmp_path, [(1, "a", _LONG), (2, "b", _LONG), (3, "c", "x" * 40)])
    rows = {(r.doc_a, r.doc_b): r
            for r in q_blob_dup_candidates(spark, str(tmp_path)).collect()}
    assert (1, 2) in rows
    assert rows[(1, 2)].hamming == 0
    assert rows[(1, 2)].n_shared_bands == BANDS


def test_one_byte_flip_is_near_dup(spark, tmp_path):
    """A single flipped byte perturbs at most one 4-byte window out of
    ~80, so only the handful of bits whose vote margin was ±1 can flip —
    the pair must survive the HAMMING_MAX gate with hamming > 0. The
    flip position must be COVERED by a window (byte mod BLOB_STRIDE <
    BLOB_WIN): stride sampling leaves 3 of every 7 bytes unsampled, and
    a flip in the gap is invisible to the signature by design."""
    pos = 203
    assert pos % BLOB_STRIDE < BLOB_WIN
    mutated = _LONG[:pos] + "X" + _LONG[pos + 1:]
    assert len(mutated) == len(_LONG) and mutated != _LONG
    _write_docs(tmp_path, [(1, "a", _LONG), (2, "b", mutated)])
    rows = {(r.doc_a, r.doc_b): r
            for r in q_blob_dup_candidates(spark, str(tmp_path)).collect()}
    assert (1, 2) in rows
    assert 0 < rows[(1, 2)].hamming <= HAMMING_MAX


def test_sub_window_payloads_excluded_from_candidates(spark, tmp_path):
    """Payloads under BLOB_WIN bytes carry no similarity evidence: they
    all share the all-zero signature, and pairing them would declare
    every tiny blob a duplicate of every other."""
    _write_docs(tmp_path, [(1, "a", "ab"), (2, "b", "ab"), (3, "c", "xy")])
    assert q_blob_dup_candidates(spark, str(tmp_path)).count() == 0
    sig = {r.doc_id: r for r in q_blob_simhash(spark, str(tmp_path)).collect()}
    assert all(sig[i].n_wins == 0 for i in (1, 2, 3))
    assert all(sig[i][f"band{k}"] == 0 for i in (1, 2, 3) for k in range(BANDS))


def test_null_text_rows_are_gated_out(spark, tmp_path):
    _write_docs(tmp_path, [(1, "a", _LONG), (2, "b", None), (3, "c", _LONG)])
    sig = q_blob_simhash(spark, str(tmp_path))
    assert sorted(r.doc_id for r in sig.collect()) == [1, 3]
    pairs = q_blob_dup_candidates(spark, str(tmp_path)).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(1, 3, 0)]


def test_band_df_cap_drops_mega_buckets_both_engines(spark, tmp_path):
    """BAND_DF_CAP is the operator's contract, not an optimization: a
    bucket with more members than the cap is dropped on BOTH engines
    (here: cap+1 exact dups share all four buckets → zero candidates),
    which is what bounds join fan-out at corpus scale."""
    n = BAND_DF_CAP + 1
    _write_docs(tmp_path, [(i, "a", _LONG) for i in range(n)])
    df = q_blob_dup_candidates(spark, str(tmp_path))
    assert df.count() == 0
    assert _duck_rows(tmp_path, QUERIES["blob_dup_candidates"].oracle) == []


def test_candidates_match_oracle_on_adversarial_corpus(spark, tmp_path):
    """Mixed corpus: dups, near-dups, NULLs, tiny and multibyte payloads
    — the differential on the shapes the fixture cannot plant."""
    rows = [
        (1, "a", _LONG), (2, "b", _LONG),
        (3, "c", _LONG[:203] + "X" + _LONG[204:]),
        (4, "d", None), (5, "e", "ab"), (6, "f", "ab"),
        (7, "g", "café " * 60), (8, "h", "café " * 60),
        (9, "i", "entirely unrelated content about spark shuffles " * 5),
    ]
    _write_docs(tmp_path, rows)
    df = q_blob_dup_candidates(spark, str(tmp_path))
    spark_rows = sorted(tuple(r) for r in
                        df.select("doc_a", "doc_b", "n_shared_bands",
                                  "hamming").collect())
    assert spark_rows == _duck_rows(
        tmp_path, QUERIES["blob_dup_candidates"].oracle)
    got = {(a, b) for a, b, _, _ in spark_rows}
    assert {(1, 2), (7, 8)} <= got
    assert (1, 3) in got or (2, 3) in got  # the near-dup fires via LSH


# --------------------------------------------------------------------------
# registration pin (the staging pin flipped at the r18 freeze)
# --------------------------------------------------------------------------


def test_family_is_registered():
    """Flipped at the r18 freeze (was the r17 staging pin): the family
    is in the registry with its full bundle."""
    from tfm_taxitrips_spark.queries.registry import all_queries

    names = set(all_queries())
    assert "blob_simhash" in names
    assert "blob_dup_candidates" in names
    for name, spec in QUERIES.items():
        assert callable(spec.fn), name
        assert spec.oracle and "SELECT" in spec.oracle.upper(), name
        assert spec.tags, name
