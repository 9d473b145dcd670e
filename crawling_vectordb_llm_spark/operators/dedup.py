"""Deduplication operators — the north-star LLM-pipeline ops.

The reference dedups implicitly: upsert-by-id overwrites (TencentVDB.py:70
`id=url` primary key), so re-crawled pages replace themselves.  A training-
data pipeline needs the full ladder, each implemented Spark-first:

  exact_dedup            md5(text) groupBy — one shuffle of (hash, id)
  minhash_signatures     n-gram shingles → 32 xxhash64 permutations, all
                         JVM-side (array exprs, no Python)
  lsh_candidate_pairs    band the signature, shuffle on (band, band-hash),
                         pairs within buckets — the candidate generator that
                         makes near-dup O(candidates) instead of O(n²)
  ngram_jaccard_pairs    exact verify: token-shingle Jaccard >= tau
  simhash64              64-bit SimHash (Arrow/numpy batch), hamming-ball
                         candidates at scale via bit-band buckets
  embedding near-dup     threshold_similarity_join (operators/knn.py)

At 100 TB: LSH candidates + exact verify is the only quadratic-free path;
bucket shuffles hash-partition evenly (band-hash keys), hot buckets are
capped by `max_bucket` to bound worst-case pair blowup (log what's dropped).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: canonical id = min(id)."""
    h = docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
    return h.groupBy("content_hash").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups")
    )


def paragraph_dedup(
    docs: DataFrame,
    chunk_words: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document exact dedup, C4-style (Raffel et al. 2020 §2.2 dedupe
    three-sentence spans; here the span unit is a fixed word window since
    the fixture corpus has no sentence punctuation): split every doc into
    non-overlapping `chunk_words`-word chunks, keep only the GLOBALLY first
    occurrence of each distinct chunk (first = lowest (doc_id, chunk_idx)),
    and reassemble each doc from its surviving chunks in order.

    Scale shape: chunking is map-only (sequence+slice array exprs, no
    Python); the keeper choice is one shuffle keyed by the chunk TEXT —
    at 100 TB key by xxhash64(chunk) instead so shuffle rows carry 8-byte
    keys, and break ties by (doc_id, chunk_idx) exactly as here.  The
    reassembly groupBy re-shuffles only surviving (doc_id, idx, chunk)
    rows.  Emits per-doc n_chunks / n_kept / kept_text (empty string when
    every chunk of a doc was seen earlier elsewhere).
    """
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(chunk_words)).cast("int")
    chunks = (
        docs.select(id_col, words.alias("__ws"), n_chunks.alias("__n"))
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("__n") - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__ws"), i * chunk_words + 1, chunk_words)
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .where(F.col("chunk") != "")
    )
    w = Window.partitionBy("chunk").orderBy(F.asc(id_col), F.asc("chunk_idx"))
    kept = chunks.withColumn("__rn", F.row_number().over(w))
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum((F.col("__rn") == 1).cast("int")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn") == 1,
                            F.struct(F.col("chunk_idx"), F.col("chunk")),
                        )
                    )
                ),
                lambda s: s.getField("chunk"),
            ),
        ).alias("kept_text"),
    )
    return per_doc.select(
        id_col,
        F.col("n_chunks").cast("int"),
        F.col("n_kept").cast("int"),
        "kept_text",
    )


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """n-token shingles as strings (distinct), pure array exprs.

    Built by zip_with-ing n shifted slices of the token array rather than
    a transform(sequence(...)) whose lambda captures the token array: a
    captured `split()` is NOT common-subexpression-eliminated inside a
    higher-order-function lambda, so the capture form re-splits the text
    once per shingle — O(tokens^2) per document (measured 2.2x slower at
    sf0.1).  Slices/zip_with evaluate the split a constant number of
    times; the lambda touches only its own arguments.

    Guarded: texts with < n tokens yield an empty array (a negative slice
    length would otherwise throw)."""
    toks = F.split(F.col(text_col), " ")
    m = F.size(toks) - (n - 1)
    sh = F.slice(toks, 1, m)
    for i in range(1, n):
        sh = F.zip_with(
            sh, F.slice(toks, i + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(F.size(toks) >= n, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per doc: hash each shingle STRING once
    (xxhash64), then derive the num_perm permutations by re-hashing the
    64-bit value with the permutation index — 1 string pass + cheap long
    hashes instead of num_perm string passes.  Entirely JVM-side (codegen
    over arrays); ANSI-safe (no overflowing arithmetic)."""
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    ).where(F.size("shingles") > 0)
    hashed = sh.select(
        F.col(id_col),
        F.transform("shingles", lambda s: F.xxhash64(s)).alias("hashes"),
    )
    # r13 BUG FIX: the previous `lambda h, i=i:` had VISIBLE ARITY 2, so
    # transform bound i to the ELEMENT INDEX (not the permutation index)
    # and every one of the 32 signature slots computed the identical
    # min(xxhash64(h, element_idx)) — the "32-permutation" signature was
    # one hash function replicated, i.e. 1-band/1-row LSH in disguise
    # (the portable twin's closure-factory comment names exactly this
    # trap).  The sequence-lambda form binds the TRUE permutation index
    # and collapses 32 parallel Catalyst branches into one nested lambda
    # (driver planning 0.38 s -> 0.10 s per call, guide §7.3).
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_perm - 1)),
        lambda i: F.array_min(F.transform("hashes", lambda h: F.xxhash64(h, i))),
    )
    return hashed.select(F.col(id_col), sig.alias("signature"))


# ---------------------------------------------------------------------------
# numpy twin of Spark's XXH64 on fixed-width inputs (r14, guide §4.2).  The
# 32-permutation re-hash above never enters whole-stage codegen (higher-order
# -function lambdas evaluate with per-element boxing), so the now-correct
# 8x4 LSH pays ~32 interpreted passes over every shingle hash.  These kernels
# reproduce org.apache.spark.sql.catalyst.expressions.XXH64 bit-for-bit from
# the published XXH64 constants (hashLong / hashInt / avalanche, seed
# chaining across arguments) — verified empirically against F.xxhash64 by
# tests/test_dedup.py parity + hypothesis tests, exactly like the portable
# family's `_portable_band_rows_pdf` twin.
# ---------------------------------------------------------------------------

_XXH64_P1 = np.uint64(0x9E3779B185EBCA87)
_XXH64_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXH64_P3 = np.uint64(0x165667B19E3779F9)
_XXH64_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XXH64_P5 = np.uint64(0x27D4EB2F165667C5)
_XXH64_SEED = np.uint64(42)  # Spark's fixed xxhash64 seed


def _xxh64_rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh64_fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _XXH64_P2
    h = h ^ (h >> np.uint64(29))
    h = h * _XXH64_P3
    h = h ^ (h >> np.uint64(32))
    return h


def _xxh64_long(v: np.ndarray, seed) -> np.ndarray:
    """XXH64.hashLong(v, seed) — v and the result are uint64 bit patterns
    of Spark's signed longs; uint64 wraparound IS Java's 2^64 arithmetic."""
    h = seed + _XXH64_P5 + np.uint64(8)
    h = h ^ (_xxh64_rotl(v * _XXH64_P2, 31) * _XXH64_P1)
    h = _xxh64_rotl(h, 27) * _XXH64_P1 + _XXH64_P4
    return _xxh64_fmix(h)


def _xxh64_int(v, seed) -> np.ndarray:
    """XXH64.hashInt(v, seed) — the 4-byte path Spark takes for an
    IntegerType child (the sequence-lambda permutation index above)."""
    h = seed + _XXH64_P5 + np.uint64(4)
    h = h ^ ((v & np.uint64(0xFFFFFFFF)) * _XXH64_P1)
    h = _xxh64_rotl(h, 23) * _XXH64_P2 + _XXH64_P3
    return _xxh64_fmix(h)


def _xxhash_band_rows_pdf(
    ids, hash_lists, num_perm: int, bands: int, rows_per_band: int
):
    """(doc ids, per-doc shingle-hash arrays) → (id_rep, band, band_hash)
    numpy arrays — the vectorized twin of the signature + banded_rows
    expression ladder for the xxhash64 family:

    * sig[i] = min over shingle hashes h of xxhash64(h, i)
             = min fmix-chain hashInt(i, hashLong(h, 42)); the inner
      hashLong(h, 42) state is INDEPENDENT of i, so it is computed once
      and re-mixed 32x (the expression plan re-hashes from scratch);
      minima reduce in the SIGNED int64 domain exactly like array_min;
    * band_hash[b] = xxhash64(sig[4b..4b+3]) = hashLong chained over the
      4 slots from seed 42.

    Bit-identical by construction; pinned by parity + hypothesis tests
    against the expression form (tests/test_dedup.py)."""
    doc_ids, counts, flats = [], [], []
    for d, hs in zip(ids, hash_lists):
        n = len(hs)
        if n == 0:
            continue
        doc_ids.append(d)
        counts.append(n)
        flats.append(np.asarray(hs, dtype=np.int64))
    if not doc_ids:
        z = np.array([], dtype=np.int64)
        return np.asarray(ids)[:0], z.astype(np.int32), z
    flat = np.concatenate(flats).view(np.uint64)
    counts = np.asarray(counts, dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    starts[1:] = np.cumsum(counts)[:-1]
    base = _xxh64_long(flat, _XXH64_SEED)  # shared hashLong(h, 42) state
    sig = np.empty((len(doc_ids), num_perm), dtype=np.int64)
    for i in range(num_perm):
        per = _xxh64_int(np.uint64(i), base).view(np.int64)
        sig[:, i] = np.minimum.reduceat(per, starts)
    sig_u = sig.view(np.uint64)
    bh = np.empty((len(doc_ids), bands), dtype=np.uint64)
    for b in range(bands):
        h = np.full(len(doc_ids), _XXH64_SEED, dtype=np.uint64)
        for r in range(rows_per_band):
            h = _xxh64_long(sig_u[:, b * rows_per_band + r], h)
        bh[:, b] = h
    id_rep = np.repeat(np.asarray(doc_ids), bands)
    band = np.tile(np.arange(bands, dtype=np.int32), len(doc_ids))
    return id_rep, band, bh.view(np.int64).reshape(-1)


def xxhash_banded_rows_fast(
    hashed: DataFrame,
    id_col: str = "doc_id",
    num_perm: int = 32,
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """mapInPandas fast path from (id_col, hashes array<bigint>) — the
    JVM xxhash64(shingle) pass stays in Spark (one codegen'd string pass)
    — to the (__id, band, band_hash) bucket relation.  Same rows, same
    values as signature-expression + banded_rows; ~one Arrow hop carrying
    only (id, hashes) replaces 32 interpreted HOF re-hash passes plus the
    band-fold ladder (guide §4.2 — batch the custom arithmetic in numpy,
    let Spark keep distribution and the string hashing).

    `__id` keeps the type of `id_col`.  The kernel bands every signature
    slot, so num_perm must equal bands * rows_per_band."""
    import pandas as pd

    if num_perm != bands * rows_per_band:
        raise ValueError(
            "xxhash_banded_rows_fast needs num_perm == bands * rows_per_band, "
            f"got num_perm={num_perm}, bands={bands}, "
            f"rows_per_band={rows_per_band}"
        )
    id_t = hashed.schema[id_col].dataType.simpleString()

    def _sign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            id_rep, band, bh = _xxhash_band_rows_pdf(
                pdf[id_col], pdf["hashes"], num_perm, bands, rows_per_band
            )
            yield pd.DataFrame({"__id": id_rep, "band": band, "band_hash": bh})

    return hashed.select(id_col, "hashes").mapInPandas(
        _sign, schema=f"__id {id_t}, band int, band_hash bigint"
    )


def _pairs_from_banded(
    banded: DataFrame, max_bucket: int, distinct: bool = True
) -> DataFrame:
    """(id, band, band_hash) rows → distinct candidate pairs.  Buckets
    larger than `max_bucket` (degenerate near-identical floods) are
    dropped to bound the within-bucket pair blowup; a production run
    logs them.  In-bucket pair generation is array exprs (no self-join):
    for sorted members [m0..mk], pairs = {(mi, mj) : i < j} — ONE shuffle
    (the groupBy) instead of groupBy + join + join.

    distinct=False skips the cross-band dedup shuffle and returns up to
    one copy of a pair PER SHARED BAND (<= bands copies) — for callers
    that dedup downstream anyway (the incremental stream dedups its
    flood-cap-bounded collect on the driver)."""
    members = (
        banded.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_list("__id")).alias("ms"))
        .where((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
    )
    pair_structs = F.flatten(
        F.transform(
            "ms",
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size("ms")),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )
    out = members.select(F.explode(pair_structs).alias("p")).select(
        "p.a_id", "p.b_id"
    )
    return out.distinct() if distinct else out


def banded_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """(__id, band, band_hash) rows — the LSH bucket relation.  This is
    also the PERSISTABLE index format for incremental dedup
    (operators/incremental_dedup.py): store it partitioned/bucketed by
    (band, band_hash) and later batches probe only touched buckets."""
    return signatures.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col("signature")[b * rows_per_band + r]
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket: int = 50,
) -> DataFrame:
    """Band the signature; docs sharing any band-hash become candidates.
    Shuffle key is (band, hash(rows)) — uniformly distributed."""
    return _pairs_from_banded(
        banded_rows(signatures, id_col, bands, rows_per_band), max_bucket
    )


# ---------------------------------------------------------------------------
# Portable (cross-engine exact) MinHash — xxhash64 has no DuckDB analog, so
# the ladder above is only property-testable.  These variants use universal
# hashing over the Mersenne prime 2^31-1: every step is plain int64
# arithmetic both engines evaluate bit-identically, which upgrades the
# WHOLE MinHash→LSH→verify pipeline from rows-only to value-oracled.
# Hash quality: (a·x+b) mod p universal hashing is the textbook MinHash
# construction (Broder); xxhash64 mixing stays the production default.
# ---------------------------------------------------------------------------

MERSENNE31 = 2_147_483_647
_CHAR_B = 131        # char-rolling base for shingle -> int
_BAND_C = 1_000_003  # band-fold base; MERSENNE31 * _BAND_C < 2^62


def perm_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for h_i(x) = (a_i·x + b_i) mod p.  Fixed
    literals (Knuth multiplicative constants) so the Spark exprs and the
    generated oracle SQL embed identical numbers."""
    out = []
    for i in range(num_perm):
        a = (i * 2_654_435_761 + 1) % MERSENNE31 or 1
        b = (i * 40_503 + 7) % MERSENNE31
        out.append((a, b))
    return out


def portable_shingle_hashes(sh_col: F.Column) -> F.Column:
    """array<string> shingles → array<bigint> via a char-rolling
    polynomial mod 2^31-1.  Values stay < 2^31·131 + codepoint — exact
    int64, ANSI-safe, and reproducible in DuckDB as
    list_reduce(string_split(s, ''), (acc,x) -> (acc*131+ascii)%p)."""
    P = F.lit(MERSENNE31)
    return F.transform(
        sh_col,
        lambda s: F.aggregate(
            F.split(s, ""),
            F.lit(0).cast("bigint"),
            lambda acc, ch: (
                acc * F.lit(_CHAR_B)
                + F.coalesce(F.ascii(ch), F.lit(0)).cast("bigint")
            )
            % P,
        ),
    )


def portable_minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures built exclusively from cross-engine-exact
    arithmetic (see module comment).  Same all-JVM codegen shape as
    minhash_signatures — only the mixing function differs."""
    P = F.lit(MERSENNE31)
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    ).where(F.size("shingles") > 0)
    hashed = sh.select(
        F.col(id_col), portable_shingle_hashes(F.col("shingles")).alias("hashes")
    )
    def _perm(a: int, b: int):
        # closure factory: a default-arg lambda would change the visible
        # arity and break transform's (elem[, idx]) signature contract
        return lambda h: (h * F.lit(a) + F.lit(b)) % P

    sig = F.array(
        *[
            F.array_min(F.transform("hashes", _perm(a, b)))
            for a, b in perm_coeffs(num_perm)
        ]
    )
    return hashed.select(F.col(id_col), sig.alias("signature"))


def portable_band_hashes(
    sig_col: F.Column, bands: int, rows_per_band: int
) -> F.Column:
    """array of `bands` band-hashes: fold each signature slice with
    (acc·C + v) mod p — the DuckDB oracle nests the same fold."""
    P = F.lit(MERSENNE31)
    return F.array(
        *[
            F.aggregate(
                F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                F.lit(0).cast("bigint"),
                lambda acc, v: (acc * F.lit(_BAND_C) + v) % P,
            )
            for b in range(bands)
        ]
    )


def minhash_near_dup_pairs_portable(
    docs: DataFrame,
    tau: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket: int = 50,
) -> DataFrame:
    """minhash_near_dup_pairs with the portable hash family end-to-end —
    signatures, band keys, candidate buckets, and the exact-Jaccard
    verify are all reproducible bit-for-bit by the DuckDB oracle."""
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")
    ).where(F.size("sh") > 0)
    sh.persist()
    hashed = sh.select(
        F.col(id_col), portable_shingle_hashes(F.col("sh")).alias("hashes")
    )
    P = F.lit(MERSENNE31)
    def _perm(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % P

    sig = F.array(
        *[
            F.array_min(F.transform("hashes", _perm(a, b)))
            for a, b in perm_coeffs(num_perm)
        ]
    )
    sigs = hashed.select(F.col(id_col), sig.alias("signature"))
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            portable_band_hashes(F.col("signature"), bands, rows_per_band)
        ).alias("band", "band_hash"),
    )
    cands = _pairs_from_banded(banded, max_bucket)
    a = sh.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            ngram_jaccard(F.col("a_sh"), F.col("b_sh")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= tau)
    )


def ngram_jaccard(
    left_shingles: F.Column, right_shingles: F.Column
) -> F.Column:
    """Exact Jaccard over distinct shingle sets (verify stage)."""
    inter = F.size(F.array_intersect(left_shingles, right_shingles))
    union = F.size(F.array_union(left_shingles, right_shingles))
    return F.round(inter / F.greatest(union, F.lit(1)), 6)


def minhash_near_dup_pairs(
    docs: DataFrame,
    tau: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → exact-Jaccard
    verify.  The scale path: pair space is O(candidates), not O(n²).

    The shingle table is persisted — it feeds both the signature build and
    the verify join, and recomputing 3× dominates runtime otherwise.  In a
    production run signatures are an INDEX ARTIFACT: materialize them to a
    table at ingest (the reference's build_index=True analog,
    TencentVDB.py:79) and only the verify stage runs at query time."""
    sh = docs.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("sh")
    ).where(F.size("sh") > 0)
    sh.persist()
    hashed = sh.select(
        F.col(id_col), F.transform("sh", lambda s: F.xxhash64(s)).alias("hashes")
    )
    # r14 (guide §4.2): signature + banding through the numpy XXH64 twin —
    # the r13 bug fix made the 32-permutation re-hash REAL, and the real
    # one runs 32 interpreted HOF passes over every shingle hash (HOF
    # lambdas never enter codegen).  The twin is bit-identical (parity +
    # hypothesis tests); the shingle-string xxhash64 pass above stays JVM.
    banded = xxhash_banded_rows_fast(
        hashed, id_col=id_col, num_perm=num_perm
    )
    cands = _pairs_from_banded(banded, max_bucket=50)
    a = sh.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", ngram_jaccard(F.col("a_sh"), F.col("b_sh")).alias("jaccard"))
        .where(F.col("jaccard") >= tau)
    )


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc (Arrow batch path): token xxhash-equivalent
    (stable md5-derived 64-bit), sum ±1 per bit, sign → bit.

    numpy does the 64-lane popcount-style accumulation per batch; this is
    the case where a vectorized Python kernel beats 64 separate JVM
    expressions."""

    def _batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        bits = np.arange(64, dtype=np.uint64)
        for pdf in it:
            out = np.zeros(len(pdf), dtype=np.int64)
            for i, t in enumerate(pdf[text_col].fillna("")):
                acc = np.zeros(64, dtype=np.int64)
                for tok in t.split():
                    h = np.uint64(
                        int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
                    )
                    hb = np.right_shift(h, bits) & np.uint64(1)
                    acc += np.where(hb.astype(bool), 1, -1)
                out[i] = int(((acc > 0).astype(np.uint64) << bits).sum().astype(np.int64))
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": out})

    return docs.select(id_col, text_col).mapInPandas(
        _batch, schema=f"{id_col} long, simhash long"
    )


def simhash_near_dup_candidates(
    sim: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Candidate pairs within a hamming ball: band the 64 bits into 4
    16-bit keys (pigeonhole: ≤3 differing bits → ≥1 identical band),
    bucket-join on (band, key), verify exact hamming via bit_count."""
    banded = sim.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band", "key"),
    )
    a = banded.select("band", "key", F.col(id_col).alias("a_id"), F.col("simhash").alias("a_sim"))
    b = banded.select("band", "key", F.col(id_col).alias("b_id"), F.col("simhash").alias("b_sim"))
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sim", "b_sim")
        .distinct()
    )
    return pairs.select(
        "a_id",
        "b_id",
        F.bit_count(F.expr("a_sim ^ b_sim")).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def _bloom_positions(col: str, m_bits: int, k: int, seed: int) -> F.Column:
    """k bit positions per value, all JVM-side: pmod(xxhash64(v, seed+i), m).
    Independent seeds stand in for independent hash functions (the standard
    double-hashing-free construction; xxhash64's seed mixes thoroughly)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(seed + i)), F.lit(m_bits))
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 5, seed: int = 0
) -> np.ndarray:
    """Build a Bloom bitset (packed uint8, m_bits/8 bytes) over df[col].

    The build side is the SMALL side by contract (an eval benchmark's
    shingle set, a blocklist): one distinct-positions pass collects at most
    k x |values| longs; the bitset itself is m_bits/8 bytes (2^20 bits =
    128 KB, 2^30 = 128 MB) — broadcastable where the value set itself might
    not be.  Spark's own `bloom_filter_agg` is not exposed through the
    Python function registry, so positions are computed with public
    xxhash64 exprs — which also makes probe-side behavior reproducible
    anywhere xxhash64 exists.
    """
    pos = (
        df.select(F.explode(_bloom_positions(col, m_bits, k, seed)).alias("p"))
        .distinct()
        .collect()
    )
    bits = np.zeros(m_bits >> 3, dtype=np.uint8)
    idx = np.array([r["p"] for r in pos], dtype=np.int64)
    np.bitwise_or.at(bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))
    return bits


def bloom_might_contain(
    df: DataFrame,
    col: str,
    bitset: np.ndarray,
    k: int = 5,
    seed: int = 0,
) -> DataFrame:
    """Filter df to rows whose col MIGHT be in the bloomed set (no false
    negatives; false-positive rate set by m_bits/k vs build cardinality).

    The probe is map-only: positions come from the same JVM xxhash64
    exprs, the broadcast bitset is tested with one vectorized numpy gather
    per hash.  At 100 TB this is the pre-join shrink: the exact-verify
    join downstream sees only bloom survivors, not the corpus.
    """
    spark = df.sparkSession
    m_bits = int(bitset.shape[0]) << 3
    bc = spark.sparkContext.broadcast(bitset)
    import pandas as pd  # noqa: F811 (module-level import exists)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _probe(pos: pd.Series) -> pd.Series:
        bits = bc.value
        out = np.ones(len(pos), dtype=bool)
        if len(pos):
            mat = np.array(list(pos), dtype=np.int64)  # (rows, k)
            for j in range(mat.shape[1]):
                p = mat[:, j]
                out &= (bits[p >> 3] >> (p & 7) & 1).astype(bool)
        return pd.Series(out)

    return df.withColumn(
        "__bloom_hit", _probe(_bloom_positions(col, m_bits, k, seed))
    ).where(F.col("__bloom_hit")).drop("__bloom_hit")


def contamination_report(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: for each benchmark doc, the top-k corpus
    docs by n-gram containment |sh(corpus) ∩ sh(bench)| / |sh(bench)| — the
    standard eval-leakage check a training pipeline runs before a data
    release (corpus docs above a containment threshold get dropped).

    Scale shape: the benchmark side is small (eval sets are thousands of
    docs) so its exploded shingles BROADCAST; the corpus side is a map-only
    explode, one shuffle for the (doc, bench) overlap count, then the
    grouped top-k window.  No corpus self-join anywhere.
    """
    from crawling_vectordb_llm_spark.operators.topk import grouped_topk

    bsh = benchmark.select(
        F.col(id_col).alias("bench_id"), word_shingles(text_col, n).alias("sh")
    ).where(F.size("sh") > 0)
    bench_sizes = bsh.select("bench_id", F.size("sh").alias("n_sh"))
    btok = bsh.select("bench_id", F.explode("sh").alias("sh"))
    ctok = corpus.select(
        F.col(id_col), word_shingles(text_col, n).alias("sh")
    ).select(id_col, F.explode("sh").alias("sh"))
    inter = (
        ctok.join(F.broadcast(btok), "sh")
        .groupBy(id_col, "bench_id")
        .agg(F.count("*").alias("inter"))
    )
    scored = inter.join(F.broadcast(bench_sizes), "bench_id").select(
        "bench_id",
        id_col,
        F.round(F.col("inter") / F.col("n_sh").cast("double"), 6).alias("containment"),
    )
    return grouped_topk(
        scored, ["bench_id"], [F.desc("containment"), F.asc(id_col)], k
    )


def positional_word_shingles(text_col: str, n: int = 5) -> F.Column:
    """Like word_shingles but keeps EVERY occurrence in position order
    (index i = shingle starting at token i, 0-based) — the form span
    excision needs, where word_shingles' array_distinct would erase
    within-doc repeats.  Same shifted-slice zip_with construction (and the
    same reason: a captured split() is not CSE'd inside a higher-order
    lambda, so the capture form would re-split per shingle)."""
    toks = F.split(F.col(text_col), " ")
    m = F.size(toks) - (n - 1)
    sh = F.slice(toks, 1, m)
    for i in range(1, n):
        sh = F.zip_with(
            sh, F.slice(toks, i + 1, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(F.size(toks) >= n, sh).otherwise(
        F.array().cast("array<string>")
    )


def duplicate_span_excise(
    docs: DataFrame,
    n: int = 5,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    pos_pack: int = 1_000_000,
) -> DataFrame:
    """Substring-level dedup TRANSFORM (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'): excise every n-token
    span that occurs >= min_count times in the corpus, keeping exactly the
    globally-first occurrence (min (doc_id, pos)) — the companion operator
    to the duplicate_ngram_spans signal, producing the cleaned corpus.

    Returns (id_col, n_tokens int, n_excised int, clean_text string) with
    one row per input document; clean_text drops every token covered by a
    non-owner duplicated span occurrence.

    Scale shape (100 TB-safe): explode to (gram, doc, pos) occurrences
    (n x token volume), one shuffle to count per-gram occurrences and
    elect the owner (a single min of the packed doc*pos key — no struct
    min, no second pass), one shuffle joining survivors back to
    occurrences, and one shuffle re-grouping covered positions per doc.
    The only per-doc state is the distinct covered-position list, bounded
    by the document's own token count.  Within-doc repeats of a gram are
    occurrences too, so a doc that plagiarizes itself is trimmed to one
    copy.  Position packs into doc_id * pos_pack + pos; pos_pack need
    only exceed the max token count per document (1e6 ~ a 4 MB document
    at avg 4 chars/token, far above the P4/P9 truncation caps upstream).
    The packing additionally requires NON-NEGATIVE ids — a negative
    doc_id would invert the (doc, pos) order inside the packed min and
    collide keys across documents — so both bounds are enforced inline
    on the packed key (raise_error on violation, ~one branch per
    occurrence, not a separate validation pass over the corpus)."""
    toks = F.split(F.col(text_col), " ")
    occ = docs.select(
        F.col(id_col),
        F.posexplode(positional_word_shingles(text_col, n)).alias("pos", "gram"),
    )
    # guard lives inside the key expression so column pruning can never
    # drop it: invalid ids/positions error the job instead of silently
    # electing a wrong owner (ADVICE r3)
    okey_ok = (F.col(id_col) >= 0) & (F.col("pos") < pos_pack)
    okey = F.when(okey_ok, F.col(id_col) * pos_pack + F.col("pos")).otherwise(
        F.raise_error(
            F.format_string(
                "duplicate_span_excise: requires 0 <= %s and token pos < "
                "pos_pack=%d (got id=%s, pos=%s)",
                F.lit(id_col), F.lit(pos_pack), F.col(id_col), F.col("pos"),
            )
        )
    )
    packed = occ.select("gram", okey.alias("okey"))
    dup = (
        packed.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"), F.min("okey").alias("owner_key"))
        .where(F.col("n_occ") >= min_count)
        .select("gram", "owner_key")
    )
    # non-owner occurrences of duplicated grams -> covered token positions
    covered = (
        occ.join(dup, "gram")
        .where(F.col(id_col) * pos_pack + F.col("pos") != F.col("owner_key"))
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("cpos"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("cpos")).alias("cov"))
    )
    out = docs.join(covered, id_col, "left").select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.coalesce(F.size("cov"), F.lit(0)).alias("n_excised"),
        F.concat_ws(
            " ",
            F.filter(
                toks, lambda t, i: ~F.coalesce(
                    F.array_contains("cov", i), F.lit(False)
                )
            ),
        ).alias("clean_text"),
    )
    return out
