"""Registry queries with full DuckDB value oracles for the SimHash, MinHash
LSH-pair and hyperplane-LSH sketches.

The sketch queries call the same operators the scale path runs
(operators/dedup.py) with `hash_fn="md5"`: md5-derived hashes both engines
compute identically, so the oracle checks the operator's banding, bucket
caps and verification end to end. `hash_fn="xxhash64"` is the same code
with a cheaper hash (`minhash_lsh_pairs_fast`).

Replay primitives (cross-checked Spark↔DuckDB on fixtures):
  token hash halves:  Spark conv(substring(md5(t),1|9,8),16,10)::long
                      DuckDB ('0x'||substring(md5(t),1|9,8))::BIGINT
  bit probes:         getbit(long, b)  /  (x >> b) & 1
  band values:        shiftrightunsigned + mask  /  (x >> s) & mask
  hamming:            bit_count(a XOR b) both engines
"""

from __future__ import annotations

from pyspark.sql import functions as F

from inspectehr_spark import ann
from inspectehr_spark.operators import dedup
from inspectehr_spark.tables import table as _t

# --------------------------------------------------------------------------
# simhash_fingerprints — md5 split-half SimHash + bottom-k md5 fingerprint
# --------------------------------------------------------------------------

# Both engines run over text IS NOT NULL: the Spark operator's documented
# null contract (null token lists → fp 0/0) has no SQL analog — unnest of
# a NULL list emits no rows, so the DuckDB CTE would DROP null-text docs
# while Spark emitted (0, 0) rows. The queries align the two engines by
# excluding null text up front; the operator's null semantics stay
# unit-tested (tests/test_operators.py).
_SIMHASH_SIG_CTE = r"""
toks AS (
  SELECT doc_id, string_split_regex(text, '\s+') AS l
  FROM documents WHERE text IS NOT NULL
),
th AS (
  SELECT doc_id,
         ('0x' || substring(md5(t.t), 1, 8))::BIGINT AS hi,
         ('0x' || substring(md5(t.t), 9, 8))::BIGINT AS lo
  FROM toks, unnest(l) AS t(t)
),
votes AS (
  SELECT doc_id, g.b AS b,
         SUM(CASE WHEN ((CASE WHEN g.b < 32 THEN lo ELSE hi END)
                        >> (g.b % 32)) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) g
  GROUP BY doc_id, g.b
),
sig AS (
  SELECT doc_id,
         CAST(COALESCE(SUM(CASE WHEN v > 0 AND b >= 32
                                THEN (1::BIGINT << (b - 32)) ELSE 0 END), 0)
              AS BIGINT) AS fp_hi,
         CAST(COALESCE(SUM(CASE WHEN v > 0 AND b < 32
                                THEN (1::BIGINT << b) ELSE 0 END), 0)
              AS BIGINT) AS fp_lo
  FROM votes GROUP BY doc_id
)"""


def q_simhash_fingerprints(spark, sf_dir):
    """64-bit SimHash (md5 token hashes, one-pass vote aggregate,
    dedup.with_simhash) carried as two 32-bit halves, plus the bottom-8
    md5 fingerprint per document. Null-text docs are excluded on both
    sides (see _SIMHASH_SIG_CTE note)."""
    from inspectehr_spark.tables import parallel_scan

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # parallelize the one-file scan before the per-row sketch math
    # (tables.parallel_scan)
    out = dedup.with_simhash(
        parallel_scan(docs.select("doc_id", "text")), text_col="text",
        hash_fn="md5",
    )
    staged = out.withColumn(
        "_md5", F.transform(F.split(F.col("text"), r"\s+"), lambda t: F.md5(t))
    )
    fp = F.md5(
        F.concat_ws(",", F.slice(F.array_sort(F.col("_md5")), 1, 8))
    )
    return staged.select(
        "doc_id",
        F.shiftrightunsigned("simhash", 32).alias("fp_hi"),
        F.col("simhash").bitwiseAND(F.lit(0xFFFFFFFF)).alias("fp_lo"),
        fp.alias("fingerprint"),
    )


SQL_SIMHASH_FINGERPRINTS = f"""
WITH {_SIMHASH_SIG_CTE},
fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_transform(l, t -> md5(t)))[1:8],
                             ',')) AS fingerprint
  FROM toks
)
SELECT s.doc_id, s.fp_hi, s.fp_lo, f.fingerprint
FROM sig s JOIN fp f USING (doc_id)
"""


# --------------------------------------------------------------------------
# simhash_hamming_pairs — banded near-dup pairs over the md5 simhash
# --------------------------------------------------------------------------

_SH_CHUNKS, _SH_MAXHAM, _SH_CAP = 16, 14, 64


def q_simhash_hamming_pairs(spark, sf_dir):
    """SimHash banded near-dup pairs (pigeonhole banding + exact bit_count
    verify, dedup.simhash_hamming_pairs) over the md5 fingerprint — full
    value oracle. Threshold loosened as before: the corpus
    has no planted near-dups; operator exactness with constructed
    near-dups stays unit-tested in tests/test_operators.py. Null-text
    docs are excluded on both sides (see _SIMHASH_SIG_CTE note)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pairs = dedup.simhash_hamming_pairs(
        docs, max_hamming=_SH_MAXHAM, chunks=_SH_CHUNKS, bucket_cap=_SH_CAP,
        hash_fn="md5",
    )
    return pairs.select(
        "doc_id_a", "doc_id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _simhash_pairs_sql() -> str:
    bandw = 64 // _SH_CHUNKS
    per_half = 32 // bandw
    mask = (1 << bandw) - 1
    return f"""
WITH {_SIMHASH_SIG_CTE},
banded AS (
  SELECT doc_id, fp_hi, fp_lo, g.b AS band_id,
         ((CASE WHEN g.b < {per_half} THEN fp_lo ELSE fp_hi END)
          >> ((g.b % {per_half}) * {bandw})) & {mask} AS band_val
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {_SH_CHUNKS - 1})) AS b) g
),
capped AS (
  SELECT doc_id, fp_hi, fp_lo, band_id, band_val FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_id, band_val
                                 ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn <= {_SH_CAP}
)
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.fp_hi, b.fp_hi))
            + bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
FROM capped a JOIN capped b
  ON a.band_id = b.band_id AND a.band_val = b.band_val
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo))
      <= {_SH_MAXHAM}
"""


SQL_SIMHASH_HAMMING_PAIRS = _simhash_pairs_sql()


# --------------------------------------------------------------------------
# minhash_lsh_pairs — band-signature replay extended to the pair join
# --------------------------------------------------------------------------

# Sketch parameters match the xxhash64 registry query this oracle replaces
# (queries_noracle r1-r4: num_hashes=32, bands=16 → 2 rows/band): candidate
# probability at jaccard 0.5 is 1-(1-0.5^2)^16 ≈ 0.99. Reusing the
# band-signature oracle's 16/4 sketch here would have silently collapsed
# recall to ≈0.23 at the query's own threshold — the sketch geometry is
# part of the query's semantics, not a free parameter.
_MH_NUM, _MH_BANDS = 32, 16
_MH_THRESHOLD, _MH_CAP = 0.5, 64
_MH_PER_BAND = _MH_NUM // _MH_BANDS


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-duplicate candidate pairs with FULL value oracle:
    dedup.minhash_lsh_duplicates with md5 hashes — banded self-join,
    hot-bucket cap and signature-agreement verification, 32-hash /
    16-band sketch. est_jaccard = agreeing elements / 32 — exact
    multiples of 1/32 (2^-5), binary-representable, so the hash compare
    is ulp-safe. Threshold 0.5 (the corpus plants exact dups, not
    near-dups; constructed-near-dup exactness stays unit-tested)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_duplicates(
        docs, num_hashes=_MH_NUM, bands=_MH_BANDS,
        jaccard_threshold=_MH_THRESHOLD, bucket_cap=_MH_CAP, hash_fn="md5",
    )


def _minhash_pairs_sql() -> str:
    hs = ",\n         ".join(
        f"list_min(list_transform(g, x -> md5(x || '|{i}'))) AS h{i}"
        for i in range(_MH_NUM)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, CAST({b} AS BIGINT) AS band_id, "
        f"md5({' || '.join(f'h{b * _MH_PER_BAND + j}' for j in range(_MH_PER_BAND))})"
        f" AS band_hash FROM sig"
        for b in range(_MH_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(_MH_NUM)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(l) - 2),
                        i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]) AS g
  FROM toks WHERE len(l) >= 3
),
sig AS (
  SELECT doc_id,
         {hs}
  FROM grams
),
banded AS (
{band_rows}
),
capped AS (
  SELECT doc_id, band_id, band_hash FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY band_id, band_hash
                                 ORDER BY doc_id) AS rn
    FROM banded
  ) WHERE rn <= {_MH_CAP}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM capped a JOIN capped b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
)
SELECT p.doc_id_a, p.doc_id_b,
       ({agree}) / {_MH_NUM}.0 AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.doc_id_a
JOIN sig sb ON sb.doc_id = p.doc_id_b
WHERE ({agree}) / {_MH_NUM}.0 >= {_MH_THRESHOLD}
"""


SQL_MINHASH_LSH_PAIRS = _minhash_pairs_sql()


# --------------------------------------------------------------------------
# ann_lsh_topk — literal hyperplane sign-bucket replay
# --------------------------------------------------------------------------

_LSH_BITS, _LSH_K, _LSH_DIM = 6, 10, 64


def q_ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate nearest neighbours for the vec_id=0
    query vector (recall vs brute force asserted in
    tests/test_noracle_queries.py) — NOW value-oracled: the ±1 hyperplanes
    are seeded literals both engines evaluate identically (sign of a
    64-term ±1 dot product; products exact, summation order matches), and
    multi-probe radius 1 replays as bit_count(xor(bucket, qbucket)) <= 1."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    if len(qv) != _LSH_DIM:
        # The DuckDB oracle's hyperplanes are dim-64 literals baked at
        # import (oracle_sql() must be static); ann.hyperplanes consumes
        # dim*bits sequential PRNG draws, so a different embedding dim
        # would bucket with DIFFERENT planes on the two sides and diverge
        # silently. Fail loudly instead.
        raise ValueError(
            f"ann_lsh_topk oracle is baked for dim {_LSH_DIM}; embeddings "
            f"table has dim {len(qv)} — regenerate SQL_ANN_LSH_TOPK"
        )
    return ann.lsh_topk(emb, [float(x) for x in qv], k=_LSH_K, bits=_LSH_BITS)


def _ann_lsh_sql() -> str:
    planes = ann.hyperplanes(_LSH_DIM, bits=_LSH_BITS, seed=42)

    def arr(p):
        return "[" + ", ".join(f"{float(x):.1f}" for x in p) + "]"

    def bucket(vexpr):
        return " + ".join(
            f"(CASE WHEN list_dot_product({vexpr}, {arr(p)}) >= 0 "
            f"THEN {1 << b} ELSE 0 END)"
            for b, p in enumerate(planes)
        )

    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
bk AS (SELECT vec_id, v, CAST({bucket('v')} AS BIGINT) AS bucket FROM e),
qb AS (SELECT CAST({bucket('qv')} AS BIGINT) AS qbucket FROM q)
SELECT vec_id,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
             6) AS cos_sim
FROM bk, q, qb
WHERE bit_count(xor(bucket, qbucket)) <= 1
ORDER BY cos_sim DESC, vec_id
LIMIT {_LSH_K}
"""


SQL_ANN_LSH_TOPK = _ann_lsh_sql()


R5_QUERIES = {
    "simhash_fingerprints": (q_simhash_fingerprints, SQL_SIMHASH_FINGERPRINTS),
    "simhash_hamming_pairs": (q_simhash_hamming_pairs, SQL_SIMHASH_HAMMING_PAIRS),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH_PAIRS),
    "ann_lsh_topk": (q_ann_lsh_topk, SQL_ANN_LSH_TOPK),
}
