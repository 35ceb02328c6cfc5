"""Blob-level near-duplicate detection (REGISTERED at the r18 freeze,
after landing fully staged in r17): extends the dedup families — exact (text hash),
MinHash/LSH + SimHash (text), embedding-cosine (vectors) — to the
MULTIMODAL binary column, which until now had featurization but no
dedup. A 60-bit SimHash (Charikar 2002; the Manku-Jain-Sarma 2007
web-crawl near-dup construction) over stride-sampled byte 4-grams of the
payload, then an LSH band join over 4×15-bit bands — candidates only
ever meet through a shared band bucket, never an all-pairs product.

Scale design (100 TB):

- **Signature is in-row, shuffle-free.** Windows, hashes, and the
  60 per-bit votes are ONE pass over the payload's hex rendering via
  ``transform``/``aggregate`` with an array accumulator — whole-stage
  codegen, no explode, no Python. A 1 MiB blob at stride 7 is ~150 k
  windows × 60 adds, all in the task that read the blob; only
  (doc_id, 4 int bands of 15-bit values) crosses the wire, never
  payload bytes.
- **Candidates are a band equi-join.** Pairs meet only inside a
  (band_idx, band_value) bucket — the LSH guarantee — and buckets
  larger than ``BAND_DF_CAP`` are dropped on BOTH engines (the
  ``NGRAM_DF_CAP`` precedent: the drop is part of the operator's
  contract, not a silent truncation), so join fan-out is provably
  ≤ cap × band rows. Hamming verification runs only on candidates.
- **Widening path**: at corpus scale the constants move, not the
  shape — more/wider bands (the hash already carries 60 usable bits,
  ``hash60`` twins extend to two salted hashes for 120), a larger
  stride for media-sized payloads, and a tighter ``HAMMING_MAX``.

Cross-engine notes (the standing regex/NULL discipline): both engines
render ``hex()`` UPPERCASE; window substrings are always full 8-hex
slices by the ``n_wins`` bound, so no partial-window NULLs; ``concat``
inputs are non-null by construction (payload rows pass the
``attach_blob`` NULL gate); zero-window payloads (< 4 bytes) get the
all-zero signature on both engines (Spark: the ``n_wins >= 1`` NULL
short-circuit — Spark's ``sequence(0, -1)`` DESCENDS rather than
emitting an empty array, so that guard in :func:`_signature_cols` is
load-bearing; SQL: LEFT JOIN + COALESCE(vote, 0)), and are EXCLUDED
from candidate generation — a 2-byte payload carries no similarity
evidence.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tfm_taxitrips_spark.functions.multimodal import attach_blob
from tfm_taxitrips_spark.functions.text import hash60, hash60_sql
from tfm_taxitrips_spark.operators.partitioning import fan_out
from tfm_taxitrips_spark.queries.registry import QuerySpec
from tfm_taxitrips_spark.sources.readers import table

#: bytes per sampled window (a byte 4-gram, 8 hex chars)
BLOB_WIN = 4
#: bytes between window starts — coprime-ish with BLOB_WIN so window
#: boundaries decorrelate from any fixed record stride in the payload
BLOB_STRIDE = 7
#: signature width; 4 bands × 15 bits uses every bit of ``hash60`` once
SIG_BITS = 60
BANDS = 4
BAND_BITS = 15
#: LSH band buckets larger than this are dropped (both engines) — the
#: boilerplate/df-cap precedent: bounds join fan-out at corpus scale
BAND_DF_CAP = 64
#: candidate pairs are kept when ≤ this many of the 60 bits differ
HAMMING_MAX = 8

_BAND_COLS = tuple(f"band{k}" for k in range(BANDS))


def _signature_cols() -> tuple[Column, ...]:
    """The in-row signature expressions over an ``attach_blob`` frame:
    (n_wins, band0..band3). One pass, no shuffle — see module docstring."""
    hexs = F.hex(F.col("blob"))
    nb = F.octet_length(F.col("blob"))
    n_wins = (
        F.when(nb >= BLOB_WIN,
               F.floor((nb - F.lit(BLOB_WIN)) / F.lit(BLOB_STRIDE)) + 1)
        .otherwise(F.lit(0))
        .cast("int")
    )
    # Spark's sequence(0, -1) DESCENDS ([0, -1]) instead of emitting an
    # empty array, so a zero-window payload must short-circuit to NULL
    # (the shingles() precedent) — NULL then propagates through
    # aggregate/element_at and the when(...)>0 bit test lands every band
    # at 0, matching the oracle's LEFT-JOIN + COALESCE(vote, 0) path.
    # (Found by the pure-Python replay test, not the parquet fixtures —
    # sf corpora have no sub-4-byte docs.)
    wins = F.when(
        n_wins >= 1,
        F.transform(
            F.sequence(F.lit(0), n_wins - 1),
            lambda i: hexs.substr(i * (BLOB_STRIDE * 2) + 1, F.lit(BLOB_WIN * 2)),
        ),
    )
    hs = F.transform(wins, lambda w: hash60(F.concat(F.lit("bsh:"), w)))
    # F.shiftright needs a literal shift, so the per-bit probe is an AND
    # against a powers-of-two array literal instead (same bit, no UDF).
    pows = F.array(*[F.lit(1 << i) for i in range(SIG_BITS)])
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), SIG_BITS),
        lambda acc, h: F.zip_with(
            acc, pows,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    bands = []
    for k in range(BANDS):
        bits = [
            F.when(F.element_at(votes, BAND_BITS * k + i + 1) > 0,
                   F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(BAND_BITS)
        ]
        bands.append(reduce(lambda a, b: a + b, bits).cast("int").alias(f"band{k}"))
    return (n_wins.alias("n_wins"), *bands)


def _blob_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = attach_blob(fan_out(table(spark, sf_dir, "documents")))
    return docs.select("doc_id", *_signature_cols())


def q_blob_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload 60-bit byte SimHash as 4×15-bit bands (the near-dup
    signature a media-ingest pipeline stores alongside the blob)."""
    return _blob_signatures(spark, sf_dir)


def _sig_sql() -> str:
    """The oracle twin of :func:`_blob_signatures` — the NAIVE spec
    (explode windows to rows, 60 SUM votes, LEFT JOIN keeps zero-window
    payloads with the all-zero signature); the differential proves the
    in-row rewrite."""
    win_expr = f"substr(hx, CAST(i * {BLOB_STRIDE * 2} + 1 AS INT), {BLOB_WIN * 2})"
    h = hash60_sql(f"concat('bsh:', {win_expr})")
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIG_BITS)
    )
    bands = ",\n       ".join(
        "CAST(" + " + ".join(
            f"CASE WHEN COALESCE(v{BAND_BITS * k + i}, 0) > 0 THEN {1 << i} ELSE 0 END"
            for i in range(BAND_BITS)
        ) + f" AS INT) AS band{k}"
        for k in range(BANDS)
    )
    return f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CASE WHEN octet_length(encode(text)) >= {BLOB_WIN}
              THEN (octet_length(encode(text)) - {BLOB_WIN}) // {BLOB_STRIDE} + 1
              ELSE 0 END AS n_wins
  FROM documents
  WHERE text IS NOT NULL  -- attach_blob's NULL-payload contract (r12)
),
w AS (SELECT doc_id, unnest(range(0, n_wins)) AS i, hx FROM b),
h AS (SELECT doc_id, {h} AS h FROM w),
v AS (SELECT doc_id,
         {votes}
      FROM h GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_wins AS INT) AS n_wins,
       {bands}
FROM b LEFT JOIN v USING (doc_id)
"""


_BLOB_SIMHASH_SQL = _sig_sql()


def q_blob_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-banded near-dup candidate pairs over the blob signatures:
    pairs sharing ≥1 of the 4 bands, verified to Hamming ≤ HAMMING_MAX
    over the full 60 bits. Never all-pairs: the join key is
    (band_idx, band_value), capped at ``BAND_DF_CAP`` per bucket.

    ``n_shared_bands`` is RECOMPUTED from the two signatures (equality
    over all 4 bands), not from the surviving LSH buckets — a band
    whose (k, bv) bucket was dropped by ``BAND_DF_CAP`` still counts
    when the band values are equal, so the column can exceed the number
    of buckets the pair actually met through (r17 ADVICE #3: the value
    is the signature-level agreement meter, consistent across both
    engines; the bucket-level provenance is deliberately not exposed).
    """
    sig = _blob_signatures(spark, sf_dir).where(F.col("n_wins") > 0)
    # the band relation feeds TWO consumers (the bucket-size head and the
    # anti-join probe side): lazy localCheckpoint so the payload scan +
    # in-row signature pass run ONCE (the contamination_overlap fence
    # idiom) — the fenced rows are (doc_id, 6 ints), never payload bytes
    lf = sig.select(
        "doc_id", *_BAND_COLS,
        F.posexplode(F.array(*_BAND_COLS)).alias("k", "bv"),
    ).localCheckpoint(eager=False)
    # over-cap buckets drop via a map-side-combined groupBy head
    # broadcast into an anti-join — the ngram_jaccard_pairs rationale: a
    # window-count formulation funnels every row of a hot bucket through
    # one exchange partition before dropping it, while the partial agg
    # collapses the hot bucket to one (k, bv, n) row per map task
    hot = (
        lf.groupBy("k", "bv")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > BAND_DF_CAP)
        .select("k", "bv")
    )
    capped = (
        lf.join(F.broadcast(hot), on=["k", "bv"], how="left_anti")
        .localCheckpoint(eager=False)  # both self-join sides read it
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(b, on=["k", "bv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.band{k}").alias(f"a{k}") for k in range(BANDS)],
            *[F.col(f"b.band{k}").alias(f"b{k}") for k in range(BANDS)],
        )
        .distinct()  # bands are functions of the doc ids, so pair-distinct
    )
    shared = reduce(
        lambda x, y: x + y,
        [F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
         for k in range(BANDS)],
    )
    hamming = reduce(
        lambda x, y: x + y,
        [F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"b{k}")))
         for k in range(BANDS)],
    )
    return (
        pairs.select(
            "doc_a", "doc_b",
            shared.cast("int").alias("n_shared_bands"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= HAMMING_MAX)
    )


def _dup_candidates_sql() -> str:
    band_case = " ".join(f"WHEN {k} THEN band{k}" for k in range(BANDS))
    # pairs exposes a's bands as ab0..ab3 and b's as bb0..bb3
    shared = " + ".join(
        f"CASE WHEN ab{k} = bb{k} THEN 1 ELSE 0 END" for k in range(BANDS)
    )
    hamming = " + ".join(
        f"bit_count(xor(CAST(ab{k} AS BIGINT), CAST(bb{k} AS BIGINT)))"
        for k in range(BANDS)
    )
    return f"""
WITH sig AS ({_sig_sql()}),
s AS (SELECT * FROM sig WHERE n_wins > 0),
lf0 AS (SELECT doc_id, band0, band1, band2, band3,
               unnest([{", ".join(str(k) for k in range(BANDS))}]) AS k
        FROM s),
lf AS (SELECT *, CASE k {band_case} END AS bv FROM lf0
       QUALIFY COUNT(*) OVER (PARTITION BY k, bv) <= {BAND_DF_CAP}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.band0 AS ab0, a.band1 AS ab1, a.band2 AS ab2, a.band3 AS ab3,
         b.band0 AS bb0, b.band1 AS bb1, b.band2 AS bb2, b.band3 AS bb3
  FROM lf a JOIN lf b ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST({shared} AS INT) AS n_shared_bands,
       CAST({hamming} AS INT) AS hamming
FROM pairs
WHERE {hamming} <= {HAMMING_MAX}
"""


_BLOB_DUP_CANDIDATES_SQL = _dup_candidates_sql()


#: merged into the registry at the r18 freeze (see module docstring).
QUERIES: dict[str, QuerySpec] = {
    "blob_simhash": QuerySpec(
        q_blob_simhash, _BLOB_SIMHASH_SQL, tags=("multimodal", "dedup")),
    "blob_dup_candidates": QuerySpec(
        q_blob_dup_candidates, _BLOB_DUP_CANDIDATES_SQL,
        tags=("multimodal", "dedup")),
}
