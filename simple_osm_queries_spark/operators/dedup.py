"""Deduplication operators for training-data pipelines.

Five families, each a first-class distributed operator over a documents /
embeddings table:

* exact        — md5 fingerprint groupBy (hash partitionable, one shuffle);
* ngram-jaccard— exact pairwise Jaccard over word n-gram shingles via an
                 INVERTED INDEX join (explode shingle -> self-join ->
                 count/union math). Fully SQL-expressible -> DuckDB oracle.
* minhash+LSH  — signature = per-permutation min over universal-hash of
                 shingles (pure column math, xxhash64 + modular arithmetic),
                 banded bucketing -> candidate pairs -> estimate/verify;
* simhash      — 64-bit sign-of-weighted-bit-sums (Arrow-batched pandas UDF
                 over JVM-computed word hashes), chunk-banded Hamming pairs
                 (pigeonhole: hamming<=c-1 guarantees an equal chunk among c);
* embedding    — cosine near-dup with hyperplane-LSH candidates and exact
                 column-math cosine verification.

Scale notes: every candidate generator is an equi-join on a derived key
(fingerprint / shingle / band bucket), so the plans shuffle on keys with
bounded fan-out. ``max_df`` caps inverted-index hot keys (stop-shingles) —
the dedup analogue of hot-cell salting; dropped shingles are excluded from
BOTH candidate generation and the Jaccard estimate so the estimator stays
consistent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# shared cache-handle protocol (also used by the PBF reader)
from simple_osm_queries_spark.caching import (  # noqa: F401  (re-exported API)
    track_persisted as _track_persisted,
    unpersist_intermediates,
)

# --- exact -------------------------------------------------------------------


def fingerprint_col(*cols: Column) -> Column:
    return F.md5(F.concat_ws("\x1f", *cols))


def exact_dup_groups(df: DataFrame, id_col: str, *cols: str) -> DataFrame:
    """One row per duplicate group: fingerprint, group size, survivor id."""
    return (
        df.withColumn("fingerprint", fingerprint_col(*[F.col(c) for c in cols]))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n"), F.min(id_col).alias("keep_id"))
    )


def dedup_exact(df: DataFrame, id_col: str, *cols: str) -> DataFrame:
    """Drop exact duplicates, keeping the smallest id per fingerprint."""
    keep = exact_dup_groups(df, id_col, *cols).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --- shingles ------------------------------------------------------------------


def words_col(text: Column) -> Column:
    return F.split(F.trim(F.lower(text)), r"\s+")


def shingles_col(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles; a doc shorter than n words yields its
    whole text as one shingle."""
    w = words_col(text)
    ngrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
    )
    return F.array_distinct(ngrams)


def shingles_udf(text: Column, n: int) -> Column:
    """Same shingle rule as :func:`shingles_col`, via one Arrow-batched UDF.

    Spark evaluates the nested transform/slice/concat_ws lambdas interpreted
    (~1.6 ms/doc measured); the Python tokenizer is ~30x cheaper. Token rule
    is identical (split lowercased trimmed text on \\s+), so results match
    the column form and the DuckDB oracle exactly.
    """
    import re

    ws = re.compile(r"\s+")

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            w = ws.split(t.strip().lower()) if t else [""]
            if len(w) <= n:
                out.append([" ".join(w)])
            else:
                out.append(list({" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}))
        return pd.Series(out)

    return _sh(text)


# --- n-gram jaccard (inverted index; SQL-expressible) --------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """All pairs with Jaccard(shingles_a, shingles_b) >= threshold.

    Candidates come from sharing at least one shingle (inverted index), so
    recall is exact for threshold > 0. ``max_df`` drops shingles occurring
    in more than max_df docs from index AND estimate (hot-key control) —
    ON BY DEFAULT: one stop-shingle shared by k docs contributes O(k^2)
    candidate pairs to the self-join, so an uncapped index goes quadratic
    on the hottest key at corpus scale. The cap bounds per-shingle fan-out
    at C(max_df,2) and, because dropped shingles leave BOTH the index and
    the size estimate, the Jaccard over surviving shingles stays exact.
    Pass ``max_df=None`` only for corpora known to have no hot shingles.

    Plan shape (r6 rewrite, guide §2.3/§2.4): the per-doc size ``sz`` is
    attached to every index row BEFORE the self-join (one window pass), so
    the candidate aggregate carries (inter, sz_a, sz_b) in one groupBy and
    the old post-agg joins of the O(candidate-pairs) table against
    ``sizes`` — two full shuffles of the quadratic intermediate — are gone
    (measured 26.6 s -> 13.0 s warm at 50k driver-shaped docs; the
    remaining cost is the irreducible pair-count aggregate, whose input is
    sum-of-df^2 rows on a flat-df corpus). A
    LENGTH-RATIO prefilter drops join rows whose pair cannot reach the
    threshold: jaccard <= min(sz)/max(sz) because inter <= min and
    union >= max, so requiring min >= t*max (with a 1e-9 slack so float
    rounding can only KEEP extra rows, never drop a qualifying pair —
    extras are re-filtered by the exact jaccard test) is result-identical
    and cuts the aggregate's input before the shuffle.
    """
    # persisted: the raw index feeds the hot-shingle count, the semi join
    # and the candidate-volume estimate; the sized filtered index feeds
    # both sides of the pair join
    raw = df.select(
        F.col(id_col).alias("id"), F.explode(shingles_udf(F.col(text_col), n)).alias("sh")
    ).persist()
    handles = [raw]
    cnts = raw.groupBy("sh").count()
    if max_df is not None:
        kept = cnts.filter(F.col("count") <= max_df)
        sh = raw.join(kept.select("sh"), "sh", "left_semi")
    else:
        kept = cnts
        sh = raw
    from pyspark.sql import Window as _W

    sized = sh.withColumn("sz", F.count("*").over(_W.partitionBy("id"))).persist()
    handles.append(sized)
    a = sized.select(F.col("id").alias("id_a"), "sh", F.col("sz").alias("sz_a"))
    b = sized.select(F.col("id").alias("id_b"), "sh", F.col("sz").alias("sz_b"))
    t_safe = max(float(threshold) - 1e-9, 0.0)
    joined = (
        a.join(b, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least(F.col("sz_a"), F.col("sz_b"))
                >= F.lit(t_safe) * F.greatest(F.col("sz_a"), F.col("sz_b"))
            )
        )
    )
    # SCALE-ADAPTIVE pair-aggregate partitioning (guide §2.2/§2.5): the
    # aggregate's group count ~ the inverted-index join fan-out
    # sum(df^2)/2, which on collision-heavy corpora is orders of magnitude
    # beyond the session's shuffle-partition default — each agg task then
    # builds a multi-million-entry hash table that thrashes the cache
    # (measured: 11.2 s agg at 32 partitions vs 6.3 s at 128 for an 85M-
    # group aggregate). The estimate is EXACT plan arithmetic over the
    # shingle-count table we compute anyway (one tiny agg over the cached
    # index; the same pass warms the cache for the main job), and the
    # explicit hash repartition is pinned by number so AQE does not
    # coalesce it back below the target ~1M groups/task.
    import math as _m

    est = kept.agg(F.sum(F.col("count") * F.col("count")).alias("s")).first().s or 0
    default_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    agg_parts = min(4096, max(default_parts, _m.ceil(est / 2 / 1_000_000)))
    if agg_parts > default_parts:
        joined = joined.repartition(agg_parts, "id_a", "id_b")
    out = (
        joined
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("inter"),
            F.min("sz_a").alias("sz_a"),
            F.min("sz_b").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )
    return _track_persisted(out, handles)


# --- minhash + LSH -------------------------------------------------------------

_MH_PRIME = 4_294_967_311  # smallest prime > 2^32


def _perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash parameters (a odd, < 2^31)."""
    params = []
    a, b = 1_103_515_245, 12_345
    x = 42
    for _ in range(num_perm):
        x = (a * x + b) % (1 << 31)
        pa = (x | 1) % (1 << 31)
        x = (a * x + b) % (1 << 31)
        pb = x % (1 << 31)
        params.append((pa, pb))
    return params


def shingle_hashes_col(text: Column, n: int = 3) -> Column:
    """32-bit-masked xxhash64 of each distinct shingle (so a*h+b stays in
    long range for the universal hash)."""
    return F.transform(
        shingles_col(text, n), lambda s: F.xxhash64(s).bitwiseAND(F.lit(0xFFFFFFFF))
    )


def minhash_from_hashes_col(hashes: Column, num_perm: int = 64) -> Column:
    """array<long> MinHash signature from a MATERIALIZED hash array.

    Keep the shingle/regex pipeline out of this expression: Catalyst does
    not CSE subexpressions across lambda bodies, so inlining shingles here
    would re-tokenize the text once per permutation (measured 60x slowdown).
    """

    def perm_min(pa: int, pb: int):
        # NB: a plain lambda with default args (h, pa=pa, ...) breaks pyspark's
        # lambda-arity inspection — close over the params instead
        return F.array_min(
            F.transform(hashes, lambda h: (F.lit(pa) * h + F.lit(pb)) % F.lit(_MH_PRIME))
        )

    return F.array(*[perm_min(pa, pb) for pa, pb in _perm_params(num_perm)])


def minhash_signature_col(text: Column, n: int = 3, num_perm: int = 64) -> Column:
    """Convenience single-expression form — prefer the two-phase
    (shingle_hashes_col materialized, then minhash_from_hashes_col) in real
    plans; see minhash_from_hashes_col for why."""
    return minhash_from_hashes_col(shingle_hashes_col(text, n), num_perm)


def minhash_from_hashes_udf(hashes: Column, num_perm: int = 64) -> Column:
    """Arrow-batched numpy MinHash (the fast path).

    Spark's higher-order array functions are interpreted (no whole-stage
    codegen), so 64 transform+array_min passes cost ~100x a vectorized
    numpy outer-min. Shingle hashing stays JVM-side; only the (num_perm x
    n_shingles) min-reduction crosses to Arrow.
    """
    params = np.array(_perm_params(num_perm), dtype=np.uint64)  # (P, 2)
    pa = params[:, 0][:, None]
    pb = params[:, 1][:, None]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            if h is None or len(h) == 0:
                out.append([int(_MH_PRIME)] * num_perm)
                continue
            arr = np.asarray(h, dtype=np.uint64)[None, :]  # (1, S)
            mins = ((pa * arr + pb) % np.uint64(_MH_PRIME)).min(axis=1)
            out.append([int(x) for x in mins])
        return pd.Series(out)

    return _sig(hashes)


def lsh_candidate_pairs(
    signed: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    bands: int = 16,
    num_perm: int | None = None,
    hash_buckets: bool = True,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH band bucket.

    ``bands`` must divide the signature length: a non-divisor would silently
    drop the trailing num_perm % bands signature entries from every bucket
    key, reducing recall with no error. Pass ``num_perm`` to validate at
    plan time (callers that built the signature know it).

    ``hash_buckets=True`` (production) xxhash64-compresses each band slice
    into a fixed 8-byte join key; ``False`` joins on the raw slice string —
    identical candidate sets (equal slices <=> equal strings), used where an
    external system (the DuckDB oracle) must reproduce the bucketing.
    """
    if num_perm is not None and num_perm % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} "
            f"(remainder {num_perm % bands} signature entries would be ignored)"
        )
    num_perm_col = F.size(F.col(sig_col))
    rows_per_band = (num_perm_col / bands).cast("int")

    def bucket_of(bi: Column) -> Column:
        key = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col(sig_col), bi * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        )
        return F.xxhash64(key) if hash_buckets else key

    buckets = signed.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(bi.alias("band"), bucket_of(bi).alias("bucket")),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a = buckets.select(F.col("id").alias("id_a"), "band", "bucket")
    b = buckets.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


_MH_BLOCK_DOCS = 2048  # see blocking note below


def _minhash_batch(texts, n: int, pa, pb) -> np.ndarray:
    """(n_docs, num_perm) MinHash matrix for a whole Arrow batch: tokenize
    per doc (python strings — unavoidable), crc32 every shingle in one C
    pass, then the (num_perm x shingles) universal-hash matrix reduced per
    doc with minimum.reduceat — in BLOCKS of ~2k docs. Blocking matters:
    one matrix per doc pays ~40 us of numpy dispatch each (the r4 shape),
    one matrix for the whole batch blows the cache (measured 17x slower
    than blocked at 20k docs); ~2k-doc blocks keep the working set in L2
    and measured ~1.5x faster than the per-doc loop (VERDICT r4 #7)."""
    import re
    import zlib

    ws = re.compile(r"\s+")
    sh_all: list[str] = []
    lens = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        w = ws.split(t.strip().lower()) if t else [""]
        if len(w) <= n:
            sh = {" ".join(w)}
        else:
            sh = {" ".join(w[k : k + n]) for k in range(len(w) - n + 1)}
        lens[i] = len(sh)
        sh_all.extend(sh)
    flat = np.fromiter(
        (zlib.crc32(s.encode()) for s in sh_all), dtype=np.uint64, count=len(sh_all)
    )
    starts = np.zeros(len(texts), dtype=np.int64)
    starts[1:] = np.cumsum(lens)[:-1]
    prime = np.uint64(_MH_PRIME)
    outs = []
    i = 0
    while i < len(texts):
        j = min(i + _MH_BLOCK_DOCS, len(texts))
        lo = starts[i]
        hi = starts[j - 1] + lens[j - 1]
        mat = (pa * flat[lo:hi][None, :] + pb) % prime
        outs.append(np.minimum.reduceat(mat, starts[i:j] - lo, axis=1).T)
        i = j
    return np.concatenate(outs) if len(outs) > 1 else outs[0]


def _splitmix64(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain mixing constants)."""
    z = z + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _band_buckets(sigs: np.ndarray, bands: int) -> np.ndarray:
    """(n_docs, bands) int64 bucket keys: per band, chain-splitmix the
    band's signature values with the band index folded in, so one long
    column is the complete LSH join key (band collisions only ever ADD
    candidates, which the jaccard filter then rejects)."""
    n_docs, num_perm = sigs.shape
    rows = num_perm // bands
    acc = np.broadcast_to(
        np.arange(1, bands + 1, dtype=np.uint64)[None, :], (n_docs, bands)
    ).copy()
    view = sigs.reshape(n_docs, bands, rows)
    for r in range(rows):
        acc = _splitmix64(acc ^ view[:, :, r].astype(np.uint64))
    return acc.view(np.int64)


def minhash_sig_buckets_py(
    text: Column, n: int = 3, num_perm: int = 64, bands: int = 16
) -> Column:
    """struct<sig: binary, buckets: array<long>> — the signature (packed
    little-endian uint32, num_perm values) AND its LSH band bucket keys
    from one Arrow pass. Fuses what r4 did as 16
    interpreted slice/concat/xxhash64 expressions over the signature array
    (the dominant cost of the candidate stage at 1M docs, VERDICT r4 #7)."""
    if num_perm % bands != 0:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    params = np.array(_perm_params(num_perm), dtype=np.uint64)
    pa = params[:, 0][:, None]
    pb = params[:, 1][:, None]

    @F.pandas_udf("struct<sig: binary, buckets: array<long>>")
    def _sigb(texts: pd.Series) -> pd.DataFrame:
        if not len(texts):
            return pd.DataFrame({"sig": [], "buckets": []})
        mins = _minhash_batch(texts, n, pa, pb)
        buckets = _band_buckets(mins, bands)
        # signature ships as packed little-endian uint32 — halves the
        # Arrow/persist/shuffle footprint vs array<long>. _MH_PRIME is
        # 2^32+15, so the 15 values in [2^32, prime) wrap on the cast;
        # both compare sides wrap identically, and the only effect on the
        # estimator is a ~2^-32 extra false-equality chance per slot
        # (far below the 1/num_perm estimator resolution).
        packed = np.ascontiguousarray(mins.astype("<u4"))
        return pd.DataFrame(
            {
                "sig": [packed[i].tobytes() for i in range(len(texts))],
                "buckets": list(buckets),
            }
        )

    return _sigb(text)


def _jaccard_est_binary(num_perm: int) -> "Column":
    """jaccard estimate over two packed-uint32 signature columns — one
    vectorized frombuffer+reshape per Arrow batch, no interpreted zip_with."""

    @F.pandas_udf(T.DoubleType())
    def _est(a: pd.Series, b: pd.Series) -> pd.Series:
        if not len(a):
            return pd.Series([], dtype=np.float64)
        va = np.frombuffer(b"".join(a), dtype=np.uint32).reshape(-1, num_perm)
        vb = np.frombuffer(b"".join(b), dtype=np.uint32).reshape(-1, num_perm)
        return pd.Series((va == vb).mean(axis=1))

    # asNondeterministic (guide §4.4): callers filter on the estimate, and
    # the pushed-down predicate would evaluate the UDF twice per pair; the
    # function is deterministic in fact, the flag only pins one evaluation
    return _est.asNondeterministic()


def md5_shingle_hashes_col(text: Column, n: int = 3) -> Column:
    """32-bit shingle hashes from the first 8 hex chars of md5 — pure JVM
    column math AND reproducible in ANSI SQL (DuckDB:
    CAST('0x'||substr(md5(sh),1,8) AS BIGINT)), unlike crc32/xxhash64.
    Slower than the crc32 numpy path; used where an external oracle must
    recompute identical signatures."""
    return F.transform(
        shingles_col(text, n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long"),
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_hash: str = "crc32",
    hash_buckets: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with signature-based Jaccard estimate.

    ``shingle_hash``: 'crc32' (production — whole pipeline in one Arrow
    UDF) or 'md5' (SQL-reproducible 32-bit hash; same estimator). Both are
    uniform 32-bit hashes under the same universal-hash permutations, so
    estimator quality is identical; only the hash constants differ.
    """
    # cached: the signature table is consumed three times (bucketing + both
    # sides of the pair join); signatures are tiny (num_perm longs/doc) and
    # recomputing the tokenizer per use would triple the dominant cost
    if shingle_hash == "crc32":
        if not hash_buckets:
            raise ValueError(
                "hash_buckets=False (externally reproducible raw-slice "
                "bucketing) requires shingle_hash='md5' — the crc32 fast "
                "path always uses fused splitmix64 bucket keys"
            )
        # fused fast path: signature AND band buckets in one Arrow pass;
        # candidates join on ONE precomputed long key instead of 16
        # interpreted slice/concat/xxhash64 expressions (VERDICT r4 #7)
        sb_col = minhash_sig_buckets_py(F.col(text_col), n, num_perm, bands)
        signed = df.select(
            F.col(id_col).alias("id"), sb_col.alias("sb")
        ).select(
            "id", F.col("sb.sig").alias("sig"), F.col("sb.buckets").alias("buckets")
        ).persist()
        bk = signed.select("id", F.explode("buckets").alias("bucket"))
        pairs = (
            bk.select(F.col("id").alias("id_a"), "bucket")
            .join(bk.select(F.col("id").alias("id_b"), "bucket"), "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    elif shingle_hash == "md5":
        sig = minhash_from_hashes_udf(md5_shingle_hashes_col(F.col(text_col), n), num_perm)
        signed = df.select(F.col(id_col).alias("id"), sig.alias("sig")).persist()
        pairs = lsh_candidate_pairs(
            signed, "id", "sig", bands, num_perm=num_perm, hash_buckets=hash_buckets
        )
    else:
        raise ValueError(f"unknown shingle_hash {shingle_hash!r} (crc32|md5)")
    sa = signed.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signed.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    joined = pairs.join(sa, "id_a").join(sb, "id_b")
    if shingle_hash == "crc32":
        # packed-binary signatures: vectorized equality count per Arrow
        # batch (no interpreted zip_with over 2x64-element arrays per pair)
        est_col = _jaccard_est_binary(num_perm)(F.col("sig_a"), F.col("sig_b"))
    else:
        est_col = F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ) / F.lit(num_perm)
    est = (
        joined.withColumn("jaccard_est", est_col)
        .filter(F.col("jaccard_est") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard_est")
    )
    return _track_persisted(est, [signed])


# --- simhash ---------------------------------------------------------------------


def simhash_from_word_hashes(word_hashes: Column, bits: int = 64) -> Column:
    """Bit-vote reduction: sign of (popcount*2 - n) per bit position, packed
    into a long.

    Vectorized across the whole Arrow batch: flatten every row's hashes
    into one array, unpack bits as a (total_words x bits) matrix, and
    add.reduceat per row — no per-row (let alone per-bit) Python loop
    (the looped form measured 23k docs/s at 1M docs; this is ~8x)."""
    shifts = np.arange(bits, dtype=np.uint64)
    weights = np.uint64(1) << shifts

    @F.pandas_udf(T.LongType())
    def _votes(hashes: pd.Series) -> pd.Series:
        n_rows = len(hashes)
        out = np.zeros(n_rows, dtype=np.uint64)
        lens = np.fromiter(
            (0 if h is None else len(h) for h in hashes), dtype=np.int64, count=n_rows
        )
        nz = np.flatnonzero(lens)
        if len(nz):
            flat = np.concatenate(
                [np.asarray(hashes.iloc[i], dtype=np.uint64) for i in nz]
            )
            bitmat = ((flat[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            starts = np.zeros(len(nz), dtype=np.int64)
            starts[1:] = np.cumsum(lens[nz])[:-1]
            ones = np.add.reduceat(bitmat, starts, axis=0)  # (nnz, bits)
            votes = 2 * ones - lens[nz][:, None]
            out[nz] = ((votes > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
        return pd.Series(out.view(np.int64))

    return _votes(word_hashes)


def simhash_col(text: Column, bits: int = 64) -> Column:
    """SimHash over word hashes. Word hashing stays JVM-side (xxhash64);
    only the bit-vote reduction is a pandas UDF (Arrow-batched). Prefer
    :func:`simhash_py` in production plans — the interpreted JVM
    transform(words, xxhash64) plus the Arrow transfer of the word-hash
    arrays measured ~4x the fused python pipeline at 1M docs."""
    return simhash_from_word_hashes(
        F.transform(words_col(text), lambda w: F.xxhash64(w)), bits
    )


def simhash_py(text: Column, bits: int = 64) -> Column:
    """Whole SimHash pipeline (tokenize -> crc32 word hash -> splitmix64
    widen -> bit votes) in ONE Arrow-batched pandas UDF — the production
    path (VERDICT r4 #7: the r4 form spent its time in the interpreted JVM
    word-hash transform and in shipping 20M-element hash arrays through
    Arrow; this crosses Python once with just the text column). Different
    hash constants than the xxhash64/md5 variants, same estimator."""
    import re
    import zlib

    assert bits == 64, "the fused path packs into one long"

    @F.pandas_udf(T.LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        if not len(texts):
            return pd.Series([], dtype=np.int64)
        ws = re.compile(r"\s+")
        all_words: list[str] = []
        lens = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            w = ws.split(t.strip().lower()) if t else [""]
            lens[i] = len(w)
            all_words.extend(w)
        h = _splitmix64(
            np.fromiter(
                (zlib.crc32(w.encode()) for w in all_words),
                dtype=np.uint64,
                count=len(all_words),
            )
        )
        starts = np.zeros(len(texts), dtype=np.int64)
        starts[1:] = np.cumsum(lens)[:-1]
        weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
        packed = np.empty(len(texts), dtype=np.uint64)
        # blocked like _minhash_batch: the (words x 64) bit matrix for a
        # whole batch blows the cache; ~2k-doc blocks stay in L2
        i = 0
        while i < len(texts):
            j = min(i + _MH_BLOCK_DOCS, len(texts))
            lo = starts[i]
            hi = starts[j - 1] + lens[j - 1]
            bit_mat = np.unpackbits(
                h[lo:hi].view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            ).astype(np.int32)
            ones = np.add.reduceat(bit_mat, starts[i:j] - lo, axis=0)
            votes = 2 * ones - lens[i:j, None]
            packed[i:j] = ((votes > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            i = j
        return pd.Series(packed.view(np.int64))

    return _sim(text)


def simhash_md5_col(text: Column, bits: int = 60) -> Column:
    """SQL-reproducible SimHash: 60-bit word hashes from the first 15 md5
    hex chars (DuckDB: CAST('0x'||substr(md5(w),1,15) AS BIGINT)). Same
    estimator as the xxhash64 production form, different hash constants;
    used by the gate so the oracle can recompute identical signatures."""
    word_hashes = F.transform(
        words_col(text),
        lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"),
    )
    return simhash_from_word_hashes(word_hashes, bits)


def hamming_pairs(
    signed: DataFrame,
    id_col: str = "id",
    sig_col: str = "sim",
    max_hamming: int = 3,
    chunks: int = 4,
    bits: int = 64,
) -> DataFrame:
    """Pairs with Hamming(sig) <= max_hamming over a 64-bit signature column.

    Candidates: equal (bits/chunks)-bit chunk in any of ``chunks`` positions
    — pigeonhole-complete for max_hamming <= chunks-1. Shared by SimHash
    (text) and pHash (image) near-dup detection.

    The signature plan is persisted (the self-join would recompute its UDF
    for both sides) and the handle rides on the result — long-lived callers
    release it with ``caching.unpersist_intermediates(result)`` after
    materializing, like the rest of the dedup family.
    """
    assert max_hamming <= chunks - 1, "pigeonhole completeness requires max_hamming < chunks"
    width = bits // chunks
    mask = (1 << width) - 1
    # persisted: the self-join consumes the signature plan TWICE, and the
    # signature usually carries the Arrow bit-vote UDF (simhash/phash) —
    # without the persist the UDF recomputes for both join sides (measured
    # ~45% of simhash_near_dups wall time at 1M docs)
    sh = signed.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sim")).persist()
    chunked = sh.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sim", c * width).bitwiseAND(F.lit(mask)).alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cv"),
    ).select("id", "sim", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    a = chunked.select(F.col("id").alias("id_a"), F.col("sim").alias("sim_a"), "chunk", "val")
    b = chunked.select(F.col("id").alias("id_b"), F.col("sim").alias("sim_b"), "chunk", "val")
    out = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
    )
    return _track_persisted(out, [sh])


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int = 4,
    word_hash: str = "crc32",
) -> DataFrame:
    """Text near-dup pairs with Hamming(simhash) <= max_hamming.

    ``word_hash``: 'crc32' (production — fused single-UDF pipeline,
    VERDICT r4 #7), 'xxhash64' (JVM word hashes + Arrow bit votes) or
    'md5' (SQL-reproducible 60-bit — see simhash_md5_col)."""
    if word_hash == "crc32":
        sim, bits = simhash_py(F.col(text_col)), 64
    elif word_hash == "xxhash64":
        sim, bits = simhash_col(F.col(text_col)), 64
    elif word_hash == "md5":
        sim, bits = simhash_md5_col(F.col(text_col)), 60
    else:
        raise ValueError(f"unknown word_hash {word_hash!r} (crc32|xxhash64|md5)")
    sh = df.select(F.col(id_col).alias("id"), sim.alias("sim"))
    return hamming_pairs(sh, "id", "sim", max_hamming, chunks, bits=bits)


def phash_near_dups(
    df: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Image near-dup pairs on a perceptual-hash column (the input_hint
    `phash: int64`): chunk-banded candidates + exact popcount verify —
    the image twin of simhash_near_dups, all integer column math."""
    sh = df.select(F.col(id_col).alias("id"), F.col(phash_col).alias("sim"))
    return hamming_pairs(sh, "id", "sim", max_hamming, chunks)


# --- embedding cosine near-dup -----------------------------------------------------


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v))


def cosine_col(a: Column, b: Column) -> Column:
    """Column-form cosine (interpreted F.aggregate folds — fine per-row
    against a literal query vector; for candidate-PAIR verification at
    volume use :func:`pairwise_cosine_udf` instead, BENCH.md r5e)."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def pairwise_cosine_udf() -> "F.Column":
    """Arrow-batched pairwise cosine: one numpy pass per batch (row-wise
    einsum dot + norms) instead of three interpreted F.aggregate folds per
    pair. On the gate's dyadic-rational fixture every sum is exact in
    float64 regardless of accumulation order, so this is bit-identical to
    the fold form there (and to the DuckDB twin); on arbitrary floats it
    differs only in summation order."""

    @F.pandas_udf(T.DoubleType())
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series([], dtype="float64")
        a = np.asarray([np.asarray(v, dtype=np.float64) for v in va])
        b = np.asarray([np.asarray(v, dtype=np.float64) for v in vb])
        dots = np.einsum("ij,ij->i", a, b)
        na = np.sqrt(np.einsum("ij,ij->i", a, a))
        nb = np.sqrt(np.einsum("ij,ij->i", b, b))
        return pd.Series(dots / (na * nb))

    # asNondeterministic (guide §4.4): the cosine threshold filter would
    # otherwise be pushed below the projection and score every pair twice
    return _cos.asNondeterministic()


def hyperplane_signature_col(vec: Column, dim: int, bits: int = 32, seed: int = 42) -> Column:
    """Random-hyperplane LSH signature as a long — hyperplanes are
    deterministic +/-1 matrices derived from (seed, bit, dim index).

    One numpy matmul per Arrow batch: the previous per-bit column form ran
    ``bits`` interpreted F.aggregate folds per row (measured 74k rows/s at
    1M x 64d x 32 bits; the matmul path is ~20x). Supports bits up to 64
    (bit 63 wraps into the sign via the uint64 view)."""
    rng = np.random.RandomState(seed)
    planes = rng.choice([-1.0, 1.0], size=(bits, dim))
    weights = np.uint64(1) << np.arange(bits, dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def _sig(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int64")
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
        pos = (mat @ planes.T) > 0
        sig = (pos.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
        return pd.Series(sig.view(np.int64))

    # asNondeterministic (guide §4.4): consumers equi-join and filter on
    # chunk values derived from the signature; pushed-down isnotnull/
    # equality predicates would re-run the matmul per consumer side
    return _sig.asNondeterministic()(vec)


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    sig_bits: int = 64,
    chunks: int = 4,
    max_bucket: int | None = 100_000,
    verify: str = "join",
    broadcast_verify_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Cosine >= threshold pairs: hyperplane-LSH chunk candidates, exact
    column-math cosine verification. Approximate recall (LSH), exact
    precision (verification).

    ``verify``: how candidate pairs get their exact cosine —
    'join' (default) re-attaches both vectors via two equi-joins (the
    any-scale path: shuffle bytes ~ |candidates| x 2 x dim); when the
    vector table's plan-size estimate fits ``broadcast_verify_bytes`` the
    joins are broadcast-HINTED (one JVM copy per executor, pair table not
    re-shuffled — measured verify ~2.5 -> ~0.8 s at 250k x 64-d), falling
    back to the shuffled joins above the guard; 'broadcast'
    collects the (id, vector) table once, broadcasts it, and each Arrow
    batch GATHERS rows by searchsorted id lookup — candidates then cross
    the boundary as 16-byte id pairs instead of 0.5 KB vector pairs
    (guide §2.3 "shuffle keys, not payloads"; verify stage 5.7 -> 3.1 s
    in a clean-session A/B at 250k x 64-d with 3.8M candidate pairs);
    'auto' picks 'broadcast' when the optimizer's size estimate for the
    vector table is under ``broadcast_verify_bytes``. The broadcast path
    is NOT the default because every forked Python worker holds the full
    float64 matrix (local[32]: 32 x 128 MB at 250k x 64-d) — measured
    24.9 s mid-bench under cache pressure vs 6.8 s for 'join'; prefer it
    only with few workers per host or small tables. Both paths build the
    per-pair (n, dim) float64 matrices the same way before the same
    einsum calls, so cosines are bit-identical. The broadcast path
    requires unique long ids (duplicate ids would be join-multiplied in
    the 'join' path, gathered-once here).

    Shuffle shape: candidate generation (chunk explode x`chunks`, the
    equi-join, and the distinct) carries ONLY (id, chunk, val) — 24 bytes a
    row — never the embedding. Vectors join back onto the deduplicated
    (id_a, id_b) pairs for the cosine verify, so shuffle bytes scale with
    candidate count, not candidate count x vector dim.

    Bucket sizing matters at scale: a band of w = sig_bits/chunks bits has
    2^w values, and RANDOM vector pairs collide per band with prob ~2^-w —
    the old 8-bit default went quadratic at 1M rows (measured: ~8e9
    candidate pairs -> executor OOM). Defaults are now 16-bit bands, and
    ``max_bucket`` drops buckets larger than the cap from candidate
    generation entirely (an oversized bucket is random collisions, not
    near-dups — the LSH analogue of ngram max_df; None disables).
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        hyperplane_signature_col(F.col(vec_col), dim, sig_bits).alias("sim"),
    )
    width = sig_bits // chunks
    mask = (1 << width) - 1
    # NOT persisted (r6 A/B): the hyperplane matmul UDF is cheap enough
    # that recomputing it per consumer ties with cache materialization
    # (3.1 vs 3.5 s at 250k x 64-d); handles stay for interface parity.
    handles: list = []
    chunked = sh.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sim", c * width).bitwiseAND(F.lit(mask)).alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cv"),
    ).select("id", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    if max_bucket is not None:
        small = (
            chunked.groupBy("chunk", "val")
            .count()
            .filter(F.col("count") <= max_bucket)
            .select("chunk", "val")
        )
        chunked = chunked.join(small, ["chunk", "val"], "left_semi")
    a = chunked.select(F.col("id").alias("id_a"), "chunk", "val")
    b = chunked.select(F.col("id").alias("id_b"), "chunk", "val")
    pairs = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    def _vec_plan_bytes() -> int | None:
        try:
            return int(
                df.select(id_col, vec_col)
                ._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        except Exception:  # pragma: no cover — internal-API drift
            return None

    if verify == "auto":
        est = _vec_plan_bytes()
        id_is_long = isinstance(df.schema[id_col].dataType, T.LongType)
        verify = (
            "broadcast"
            if id_is_long and est is not None and est <= broadcast_verify_bytes
            else "join"
        )
    if verify == "broadcast":
        # toArrow + flatten: the vector matrix materializes as one numpy
        # reshape of the Arrow child buffer (a toPandas of list cells built
        # 250k Python lists — measured ~3 s of the build)
        tbl = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")).toArrow()
        ids = tbl.column("id").to_numpy()
        flat = tbl.column("vec").combine_chunks().flatten().to_numpy()
        n_rows = len(ids)
        mat = flat.astype(np.float64, copy=False).reshape(n_rows, -1) if n_rows else np.zeros((0, 1))
        order = np.argsort(ids)
        bc = df.sparkSession.sparkContext.broadcast(
            (ids[order].astype(np.int64), np.ascontiguousarray(mat[order]))
        )

        def _verify(batches):
            ids_s, m = bc.value
            for b in batches:
                if not len(b):
                    continue
                ia = b["id_a"].to_numpy(np.int64)
                ib = b["id_b"].to_numpy(np.int64)
                a = np.ascontiguousarray(m[np.searchsorted(ids_s, ia)])
                v = np.ascontiguousarray(m[np.searchsorted(ids_s, ib)])
                dots = np.einsum("ij,ij->i", a, v)
                na = np.sqrt(np.einsum("ij,ij->i", a, a))
                nb = np.sqrt(np.einsum("ij,ij->i", v, v))
                cos = dots / (na * nb)
                keep = cos >= threshold
                yield pd.DataFrame(
                    {"id_a": ia[keep], "id_b": ib[keep], "cosine": cos[keep]}
                )

        return _track_persisted(
            pairs.mapInPandas(_verify, "id_a long, id_b long, cosine double"),
            handles,
        )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    va = vecs.withColumnsRenamed({"id": "id_a", "vec": "vec_a"})
    vb = vecs.withColumnsRenamed({"id": "id_b", "vec": "vec_b"})
    # broadcast-HINT the vector sides when the table is small enough (r6,
    # guide §3.1): the shuffled verify joins move ~|candidates| x 2 x dim
    # of vector payload PLUS re-shuffle the pair table twice; a broadcast
    # hash join moves the vector table once per executor instead (ONE JVM
    # copy — unlike verify='broadcast', no per-Python-worker matrix), and
    # the pair table streams map-side. Measured at 250k x 64-d / 3.8M
    # candidate pairs: verify stage ~2.5 -> ~0.8 s (end-to-end 5.1 ->
    # 3.3 s), results identical (same join, different strategy). The size
    # guard keeps the any-scale shuffled plan when the vector table is too
    # big to broadcast or has no usable estimate.
    est = _vec_plan_bytes()
    if est is not None and est <= broadcast_verify_bytes:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return _track_persisted(
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", pairwise_cosine_udf()(F.col("vec_a"), F.col("vec_b")))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine"),
        handles,
    )


# --- near-dup components (pairs -> groups -> survivors) ------------------------


def _min_label_components(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(node, comp) of the undirected graph with edges a[i]-b[i], for every
    node whose component minimum ``comp`` is not the node itself.

    Union-find in whole-array steps: ids are remapped to their rank
    (``np.unique`` sorts, so rank order is id order), every root hooks onto
    the smallest root it shares an edge with, and pointer jumping then
    compresses every node onto its root. Hooks only ever point at a smaller
    rank, so each tree's root is its minimum and no cycle can form; the
    loop ends when no edge joins two trees.
    """
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[u], parent[v]
        cross = pu != pv
        if not cross.any():
            break
        pu, pv = pu[cross], pv[cross]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    moved = parent != np.arange(len(ids))
    return ids[moved], ids[parent[moved]]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, comp) for every node in ``pairs`` — comp = min id reachable.

    The standard last step of a near-dup pipeline: candidate pairs form an
    undirected graph; each connected component is one duplicate group and
    keeps one survivor.

    Rounds: alternating LARGE-STAR / SMALL-STAR edge rewiring (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14 — the
    published O(log²) bound, O(log) in practice) over an oriented edge
    table with one row (a, b), a > b, per undirected edge:

    * large-star, per center v: every neighbor LARGER than v rewires to
      m = min(Γ(v) ∪ {v});
    * small-star, per center v: v and its SMALLER neighbors rewire to the
      min of that set;

    each step is one groupBy(min) + one equi-join over the edge table, and
    the edge count never grows. Iterated to a fixpoint the edges form
    stars rooted at each component's minimum id, read off as (node, comp).
    Plain min-label propagation moves information ONE GRAPH HOP per edge
    pass, so a path-shaped graph — the DBSCAN eps graph near percolation —
    needs O(diameter) passes; star rewiring contracts such chains
    geometrically. Each round ends in one aggregate over the new edge
    table that both tests for star form and counts the edges.

    Driver finish: the rounds stop as soon as the edge table fits
    ``spark.sql.autoBroadcastJoinThreshold`` at 16 bytes an edge (two
    longs) — the session's own "small enough to ship whole" size. The
    edges are then collected through Arrow, labelled by a numpy union-find
    (`_min_label_components`), and the labels broadcast-joined onto the
    node table. A graph that starts under the limit runs no round at all;
    setting the threshold to -1 keeps every round distributed. The switch
    is exact at any round: large-star never changes an edge's ``a`` side
    and small-star re-emits every node it rewires, so the edge table's
    node set and each component's minimum are the same in every round,
    and labelling any round's table gives the converged labels.

    The input is scanned once: its pairs are cached by the first job that
    computes them, and both the node table and the first edge table read
    those blocks. Every round's edge table is checkpointed so lineage
    stays flat.

    Durability: by default rounds use ``localCheckpoint`` (blocks live on
    executors — fine single-node / interactive, but a lost executor kills
    the job mid-iteration on a real cluster). Pass ``checkpoint_dir`` (an
    HDFS/object-store path at scale) to use reliable ``checkpoint()``
    instead — each round persists to storage and survives executor loss.
    Superseded rounds are unpersisted as soon as the next round
    materializes, so storage stays O(1) rounds, not O(log diameter).

    Raises RuntimeError if the graph is neither in star form nor under the
    driver limit after ``max_iter`` rounds (2^25-diameter coverage at the
    default — a hit means pathological input that must not silently
    return half-propagated components).
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    driver_limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()

    def _ckpt(df: DataFrame, eager: bool = True) -> DataFrame:
        # eager=False marks the plan for checkpointing and lets the NEXT
        # action over it materialize the blocks (RDD checkpointing fires at
        # the end of any job that computes the marked RDD; the star-form
        # check's groupBy consumes every partition, so nothing is left
        # uncomputed). Fusing the materialization into the check saves one
        # scheduled job per round.
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    def _free(df: DataFrame) -> None:
        # DataFrame.unpersist() only clears cache-manager entries; a
        # checkpointed frame's blocks belong to the wrapped LogicalRDD —
        # reach it through the analyzed plan and unpersist that RDD
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:  # pragma: no cover — plan shape drift: leak, don't crash
            df.unpersist()

    # the one scan of the input: nodes and the first edge table both read
    # these blocks instead of each re-running the pairs plan. A lazy local
    # checkpoint caches them in the first job that computes them; under
    # checkpoint_dir a plain persist keeps the lineage that recovers lost
    # blocks (a lazy reliable checkpoint is not persisted: it re-ran the
    # pairs plan, 3 scans per call, measured)
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    e = e.persist() if checkpoint_dir is not None else e.localCheckpoint(eager=False)
    # all input nodes: a node whose only pairs are self-loops is on no edge
    # but must still get a label (read once, by the final labels checkpoint)
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    # ORIENTED canonical edge table: one row (a, b) with a > b per
    # undirected edge (guide §2.3 "shuffle fewer bytes"): both star
    # steps are expressible on the half-sized representation — every
    # per-round shuffle (dedup, groupBy-min, join) moves half the rows of
    # the symmetric form (measured 7.8 s -> 4.2 s warm / 11.0 -> 8.8 s
    # cold at 1M docs / 1M pairs), and the rewired output of each step is
    # already oriented (rewiring always points at a smaller node), so only
    # the small-star output needs re-canonicalization.
    # lazy: the star-form check below materializes the blocks in ITS job
    edges = _ckpt(
        e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct(),
        eager=False,
    )

    def _label_nodes(mn: DataFrame) -> DataFrame:
        # (node, comp) from (node, mn) rows: comp = min(self, mn); nodes
        # without a row are their own component's minimum
        return nodes.join(mn, "node", "left").select(
            "node",
            F.least(F.coalesce(F.col("mn"), F.col("node")), F.col("node")).alias(
                "comp"
            ),
        )

    def _driver_labels(g: DataFrame) -> DataFrame:
        import pyarrow as pa

        tbl = g.toArrow()
        node, comp = _min_label_components(
            tbl.column("a").to_numpy(), tbl.column("b").to_numpy()
        )
        typ = tbl.schema.field("a").type
        mn = spark.createDataFrame(
            pa.table({"node": pa.array(node, typ), "mn": pa.array(comp, typ)})
        )
        return _label_nodes(F.broadcast(mn))

    def _star_check(g: DataFrame) -> tuple[bool, bool]:
        # EXACT fixpoint test on the oriented table: the iteration's
        # fixpoints are precisely star forests rooted at component minima,
        # i.e. (1) no node appears on both the hi and the lo side, and (2)
        # no hi node points at two hubs. On star form, LS maps every edge
        # (m, r) to itself (the root has no smaller neighbor) and SS
        # re-emits (m, min{r}) = (m, r), so star form <=> no further
        # change — detection fires in the round that PRODUCES the fixpoint
        # instead of the round after. One unpivot + aggregate over the
        # checkpointed table; the same aggregate sums each node's hi-side
        # count into the edge count that decides the driver finish.
        # Returns (star form, fits the driver limit).
        t = g.select(F.col("a").alias("n"), F.lit(1).alias("h")).unionByName(
            g.select(F.col("b").alias("n"), F.lit(0).alias("h"))
        )
        stats = (
            t.groupBy("n")
            .agg(F.sum("h").alias("nh"), F.min("h").alias("mn"), F.max("h").alias("mx"))
            .agg(
                F.count_if(
                    ((F.col("mn") == 0) & (F.col("mx") == 1)) | (F.col("nh") > 1)
                ).alias("bad"),
                F.sum("nh").alias("m"),
            )
        )
        # the lazy checkpoint of g is materialized by this job only because
        # the groupBy's shuffle reads every partition of g (planning only,
        # no job)
        assert "Exchange hashpartitioning" in (
            stats._jdf.queryExecution().executedPlan().toString()
        ), "star-form check lost its shuffle; lazy round checkpoints would not materialize"
        row = stats.collect()[0]
        return row.bad == 0, (row.m or 0) * 16 <= driver_limit

    converged, fits = _star_check(edges)
    for _ in range(max_iter):
        if converged or fits:
            break
        # LARGE-STAR: per center c, neighbors n > c rewire to
        # m(c) = min(neighbors(c) + {c}). On oriented rows: m(c) =
        # coalesce(min smaller neighbor, c) (larger neighbors are never
        # the min), and each oriented edge (a, b) is exactly center b's
        # one larger neighbor a, so LS maps (a, b) -> (a, m(b)) — already
        # oriented since m(b) <= b < a.
        mins = edges.groupBy("a").agg(F.min("b").alias("mn"))
        ls = edges.join(
            mins.select(F.col("a").alias("b"), "mn"), "b", "left"
        ).select("a", F.coalesce("mn", F.col("b")).alias("b"))
        # consumed twice inside this round (SS groupBy + SS join) — plain
        # persist; it materializes during the round-end check and its
        # lineage is one shallow groupBy+join over the checkpointed
        # previous round (checkpointing HERE too doubled per-round
        # materializations, measured)
        g1 = ls.persist()
        # SMALL-STAR: per center a, a and its smaller neighbors {b} rewire
        # to m = min of that set — centers are exactly the `a` side of the
        # oriented table
        minsS = g1.groupBy("a").agg(F.min("b").alias("mn"))
        ss = (
            g1.join(minsS, "a")
            .select(F.col("b").alias("x"), F.col("mn").alias("m"))
            .unionByName(
                minsS.select(F.col("a").alias("x"), F.col("mn").alias("m"))
            )
        )
        prev_edges = edges
        # lazy checkpoint + check-first ordering: the star-form check's job
        # materializes this round's blocks (one job where eager ckpt + check
        # were two); the previous round and g1 are freed only AFTER the new
        # round is materialized — their blocks feed its lineage
        edges = _ckpt(
            ss.select(
                F.greatest("x", "m").alias("a"), F.least("x", "m").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct(),
            eager=False,
        )
        converged, fits = _star_check(edges)
        _free(prev_edges)
        g1.unpersist()
    if not (converged or fits):
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds; refusing to return partially "
            "contracted components"
        )
    if fits:
        labels = _ckpt(_driver_labels(edges))
    else:
        # star form: each member's single oriented edge points at its root
        labels = _ckpt(
            _label_nodes(
                edges.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("mn"))
            )
        )
    _free(edges)
    if checkpoint_dir is not None:
        e.unpersist()
    else:
        _free(e)
    return labels


def near_dup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop all but the min-id document of every near-dup component."""
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
