"""Deduplication operators for training-data pipelines (exact, n-gram
Jaccard, MinHash+LSH, SimHash) over the `documents` table.

Scale design:
  - exact: hash-groupBy; map-side partial agg means one shuffled row per
    distinct hash. O(n).
  - ngram-jaccard: BLOCKED self-join (same lang + length bucket) — never an
    unblocked cross join; at 100 TB blocks bound the quadratic term.
  - MinHash+LSH: signatures via native expressions (xxhash64 over shingles,
    per-permutation affine min) -> band buckets -> equi-join within buckets
    -> exact-Jaccard verification. Only the banding join shuffles; candidate
    count is tunable via (n_perms, n_bands).
  - SimHash: all-native bit-fold kernel; pigeonhole banding into
    max_hamming+1 chunks guarantees every Hamming<=max_hamming pair meets in
    at least one bucket (full recall at the requested radius).
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger("wikibrain_spark.dedup")

# 31-bit Mersenne prime: a*h stays < 2^62, safe under ANSI int64 arithmetic
MERSENNE = (1 << 31) - 1


def exact_duplicates(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups with >1 identical text: (fp, n_dups, canonical_doc_id)."""
    return (
        documents.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("canonical_doc_id"))
        .where(F.col("n_dups") > 1)
    )


def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams as a sorted array (native expression)."""
    return F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(0))),
                lambda i: F.substring(text, i, n),
            )
        )
    )


def _blocked_jaccard_core(
    d: DataFrame,
    threshold: float,
    max_block_docs: int | None,
    hot_perms: int = 64,
    hot_bands: int = 32,
) -> DataFrame:
    """Shared core of the two exact-Jaccard operators. `d` carries
    (doc_id, lang, lbucket, items) with `items` a distinct sorted array.

    Without a guard the (lang, lbucket) blocked self-join is quadratic in
    the hottest block. With ``max_block_docs`` set, a count pre-pass splits
    blocks: cold blocks keep the exact all-pairs-in-block join; hot blocks
    are routed through a MinHash-banded candidate join over the SAME item
    sets and blocking keys, verified with the SAME exact Jaccard — so
    precision and the similarity definition are unchanged everywhere, and
    only recall inside oversized blocks becomes probabilistic (the standard
    LSH trade, made explicit by a logged routing decision). This bounds the
    join safely by construction: no block can go quadratic."""
    inter = F.size(F.array_intersect("a.items", "b.items"))
    sa, sb = F.size(F.col("a.items")), F.size(F.col("b.items"))
    # round 8: the intersect size is STAGED as a projected column so the
    # threshold filter and the output expression share ONE array_intersect
    # evaluation per candidate pair (it was evaluated twice); union size
    # is |A|+|B|-|A∩B| as before. Identical integers, identical jaccard.
    staged_cols = [
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        inter.alias("_i"),
        sa.alias("_sa"),
        sb.alias("_sb"),
    ]
    jac = F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i"))
    out_cols = ["doc_a", "doc_b", F.floor(jac * 10000).cast("long").alias("jaccard_e4")]
    # J <= min/max of set sizes: prune before the set algebra
    size_prune = F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb)
    block_cond = (
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.lbucket") == F.col("b.lbucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & size_prune
    )

    if max_block_docs is None:
        return (
            d.alias("a").join(d.alias("b"), block_cond)
            .select(*staged_cols).where(jac >= threshold).select(*out_cols)
        )

    sizes = d.groupBy("lang", "lbucket").agg(F.count("*").alias("_bsz"))
    hot = sizes.where(F.col("_bsz") > max_block_docs).collect()  # metadata scale
    dd = d.join(F.broadcast(sizes), ["lang", "lbucket"])
    cold = dd.where(F.col("_bsz") <= max_block_docs).drop("_bsz")
    exact = (
        cold.alias("a").join(cold.alias("b"), block_cond)
        .select(*staged_cols).where(jac >= threshold).select(*out_cols)
    )
    if not hot:
        return exact
    n_perms, n_bands = hot_perms, hot_bands
    rows_per_band = n_perms // n_bands
    # banding recall at the verify threshold: P(>=1 band agrees) for a pair
    # at exactly J = threshold is 1-(1-J^r)^b (higher-J pairs do better)
    recall_at_t = 1.0 - (1.0 - threshold ** rows_per_band) ** n_bands
    _LOG.warning(
        "jaccard blocked self-join: %d block(s) exceed max_block_docs=%d and are "
        "routed to the MinHash-banded path (%d perms / %d bands; exact verify, "
        "probabilistic recall >= %.4f for pairs at J=%.2f): %s",
        len(hot), max_block_docs, n_perms, n_bands, recall_at_t, threshold,
        [(r["lang"], r["lbucket"], r["_bsz"]) for r in hot[:10]],
    )
    hotd = (
        dd.where(F.col("_bsz") > max_block_docs)
        .drop("_bsz")
        .withColumn("_h", F.transform("items", lambda it: F.pmod(F.xxhash64(it), F.lit(MERSENNE))))
        .withColumn("_sig", minhash_from_hashes(F.col("_h"), n_perms))
        .select(
            "doc_id", "lang", "lbucket", "items",
            F.posexplode(
                F.array(*[
                    F.slice("_sig", i * rows_per_band + 1, rows_per_band)
                    for i in range(n_bands)
                ])
            ).alias("band_id", "band_sig"),
        )
    )
    band_cond = (
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.lbucket") == F.col("b.lbucket"))
        & (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_sig") == F.col("b.band_sig"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & size_prune
    )
    hot_pairs = (
        hotd.alias("a")
        .join(hotd.alias("b"), band_cond)
        .select(*staged_cols)
        .where(jac >= threshold)
        .select(*out_cols)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return exact.unionByName(hot_pairs)


def jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    bucket_chars: int = 100,
    text_col: str = "text",
    max_block_docs: int | None = 100_000,
    hot_perms: int = 64,
    hot_bands: int = 32,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard within (lang, length-
    bucket) blocks: (doc_a, doc_b, jaccard_e4). ``max_block_docs`` routes
    oversized blocks to a MinHash-banded path (see _blocked_jaccard_core);
    the finite default guarantees no block goes quadratic at scale — pass
    None only when the caller has bounded blocks by construction.
    ``hot_perms``/``hot_bands`` tune hot-path recall (default 64/32 -> 2
    rows per band, recall 1-(1-J^2)^32, ~0.9999 at J=0.5)."""
    d = documents.select(
        "doc_id", F.col("lang"),
        (F.floor(F.length(text_col) / bucket_chars)).alias("lbucket"),
        char_ngrams(F.col(text_col), n).alias("items"),
    )
    return _blocked_jaccard_core(d, threshold, max_block_docs, hot_perms, hot_bands)


def token_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.3,
    bucket_chars: int = 200,
    text_col: str = "text",
    max_block_docs: int | None = 100_000,
    hot_perms: int = 64,
    hot_bands: int = 32,
) -> DataFrame:
    """Near-duplicate pairs by distinct-token Jaccard within (lang, length-
    bucket) blocks: (doc_a, doc_b, jaccard_e4). Token-set variant of
    jaccard_pairs; its set algebra is expressible in ANSI SQL for the
    oracle gate. ``max_block_docs`` routes oversized blocks to a
    MinHash-banded path (see _blocked_jaccard_core); the finite default
    guarantees no block goes quadratic at scale."""
    d = documents.select(
        "doc_id", F.col("lang"),
        (F.floor(F.length(text_col) / bucket_chars)).alias("lbucket"),
        F.array_sort(F.array_distinct(F.split(F.trim(F.col(text_col)), "\\s+", -1))).alias("items"),
    )
    return _blocked_jaccard_core(d, threshold, max_block_docs, hot_perms, hot_bands)


def _perm_params(n_perms: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(1, MERSENNE)), int(rng.integers(0, MERSENNE)))
        for _ in range(n_perms)
    ]


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """char n-grams -> array of non-negative 31-bit hashes (xxhash64 mod M31)."""
    return F.transform(char_ngrams(text, n), lambda g: F.pmod(F.xxhash64(g), F.lit(MERSENNE)))


def minhash_from_hashes(hashes: Column, n_perms: int = 16) -> Column:
    """array<long> of n_perms minhash values. Pass a materialized `hashes`
    COLUMN (not the expression) — inlining the shingle subtree n_perms times
    blows up codegen. Permutation h_i = (a_i*h + b_i) mod M31; all native
    expressions, no Python in the plan."""
    sig = []
    for a, b in _perm_params(n_perms):
        sig.append(
            F.array_min(
                F.transform(hashes, lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MERSENNE)))
            )
        )
    return F.array(*sig)


def minhash_signature(text: Column, n_perms: int = 16, n: int = 3) -> Column:
    """Convenience wrapper; prefer staging shingle_hashes as a column first."""
    return minhash_from_hashes(shingle_hashes(text, n), n_perms)


def minhash_banded(
    documents: DataFrame,
    n_perms: int = 16,
    n_bands: int = 4,
    ngram: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, grams, band_id, band_hash) — the deterministic banding table
    of the MinHash pipeline (seeded permutations; same input -> same rows).
    Exposed separately so callers can STAGE it (e.g. to parquet) and an
    independent engine can re-enumerate the identical candidate set — the
    exact-oracle seam, mirroring simhash64 / simhash_pairs_from_signatures."""
    rows_per_band = n_perms // n_bands
    # staged: grams -> hashes -> sig, each a materialized column so the
    # shingle subtree appears once in the plan, not n_perms times
    from wikibrain_spark.session import fan_out

    # fan the signature kernel out to the cluster width (no-op at scale):
    # a small doc snapshot arrives in one row group and the whole
    # shingle->minhash pipeline would otherwise run in one task (round 8)
    d = (
        fan_out(documents).select("doc_id", char_ngrams(F.col(text_col), ngram).alias("grams"))
        .withColumn("hashes", F.transform("grams", lambda g: F.pmod(F.xxhash64(g), F.lit(MERSENNE))))
        .withColumn("sig", minhash_from_hashes(F.col("hashes"), n_perms))
        .drop("hashes")
    )
    return d.select(
        "doc_id", "grams",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bnd: F.xxhash64(F.concat_ws("_", F.slice("sig", bnd * rows_per_band + 1, rows_per_band), bnd)),
            )
        ).alias("band_id", "band_hash"),
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n_perms: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    ngram: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """MinHash banding: docs agreeing on any band become candidates, then
    exact Jaccard verifies (the standard shingle->minhash->band->bucket-join
    pipeline). Returns (doc_a, doc_b, jaccard_e4).

    The banding table is materialized once (localCheckpoint, round 8): the
    candidate self-join reads it from both sides, and without
    materialization each side re-runs the whole shingle->minhash pipeline
    — the same reason callers that STAGE the table to parquet (the
    oracle seam) re-read it from disk. The checkpoint is eager and not
    recoverable: it runs a job here, keeps the blocks on the executors
    that computed them and cuts the lineage, so a block lost with its
    executor fails the query rather than being recomputed (use
    checkpoint() on a reliable directory where executors come and go).
    near_dup_clusters' edge and label tables checkpoint the same way."""
    return minhash_pairs_from_banded(
        minhash_banded(documents, n_perms, n_bands, ngram, text_col).localCheckpoint(),
        threshold,
    )


def minhash_pairs_from_banded(banded: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Candidate generation + exact-Jaccard verify over a (doc_id, grams,
    band_id, band_hash) banding table (see minhash_banded)."""
    a = banded.alias("a")
    b = banded.alias("b")
    # size-compatibility prefilter BEFORE the expensive set algebra:
    # J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so incompatible sizes can never
    # verify — this prunes inside the join, before dedup and intersect
    sa, sb = F.size(F.col("a.grams")), F.size(F.col("b.grams"))
    size_ok = F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb)
    # round 8, two changes with the same pair set and identical jaccard:
    # (1) the candidate rows are EXPLICITLY repartitioned by pair key
    # before the dedup — the band join's output stage is byte-light but
    # CPU-heavy (the set verify), and AQE's byte-based coalescing
    # serializes it behind one task (the round-3 AQE-coalesce trap, here
    # re-measured as a 3x slowdown of the verify); a user-specified
    # partition count is exempt. (2) the verify computes ONE
    # array_intersect and derives the union as |A|+|B|-|A∩B| (grams are
    # distinct arrays) instead of building an array_union hash set.
    from wikibrain_spark.operators.spatial_join import _shuffle_partitions

    cand = (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & size_ok)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.grams").alias("grams_a"), F.col("b.grams").alias("grams_b"),
        )
        .repartition(_shuffle_partitions(banded.sparkSession), "doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    jac = inter / (F.size("grams_a") + F.size("grams_b") - inter)
    return cand.where(jac >= threshold).select(
        "doc_a", "doc_b", F.floor(jac * 10000).cast("long").alias("jaccard_e4")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks:
    (id_a, id_b, sim_e3). The block column bounds the quadratic term (at
    scale: LSH buckets from simsearch.hyperplane_signatures instead)."""
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    d = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                          norm.alias("nrm"), F.col(block_col).alias("blk"))
    a = d.alias("a")
    b = d.alias("b")
    pairs = a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
    dot = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    # round 8: stage the O(dim) dot-product fold once per pair — `sim` is
    # referenced by both the filter and the output, which re-evaluated the
    # whole fold twice. Same doubles, same rows.
    staged = pairs.select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
        (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("_sim"),
    )
    return staged.where(F.col("_sim") >= threshold).select(
        "id_a", "id_b", F.floor(F.col("_sim") * 1000).cast("long").alias("sim_e3"),
    )


# ---------------------------------------------------------------- simhash

def simhash64_col(text: Column) -> Column:
    """64-bit SimHash over distinct whitespace tokens — pure native
    expressions (no Python in the plan): token -> xxhash64 bit vector,
    per-bit +1/-1 fold over the token array, sign bits OR-assembled.

    All-JVM replacement for the former per-token Python md5 kernel (the
    slowest dedup op in BENCH_r01); the bit-hash function is xxhash64 rather
    than md5 — simhash is hash-function agnostic, determinism is preserved.

    Empty/whitespace-only/NULL documents hash to 0, preserving the removed
    Python kernel's convention (split('') yields [''] — without the guard
    empty docs would share the nonzero hash of the empty-string token).
    NULL text takes the same branch as empty so null-text docs cluster with
    empty docs instead of vanishing from banding with a NULL hash."""
    hashes = F.transform(
        F.array_distinct(F.split(F.lower(F.trim(text)), "\\s+", -1)),
        lambda t: F.xxhash64(t),
    )
    # acc[k] = sum over tokens of (+1 if bit k set else -1). Shift amounts
    # must be Python ints (shiftrightunsigned rejects Column counts), so the
    # 64-bit vector is an unrolled literal array; h is a leaf reference, so
    # repeating it 64x does not duplicate any subtree.
    acc = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda a, h: F.zip_with(
            a,
            F.array(*[
                F.when(F.shiftrightunsigned(h, k).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1)).cast("long")
                for k in range(64)
            ]),
            lambda x, y: x + y,
        ),
    )
    # assemble sign bits with bitwise OR; bit 63's weight is the int64 sign
    # bit, representable only as the negative literal -(2^63)
    pows = [1 << k for k in range(63)] + [-(2 ** 63)]
    folded = F.aggregate(
        F.zip_with(
            acc,
            F.lit(pows).cast("array<long>"),
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )
    return F.when(
        F.coalesce(F.trim(text), F.lit("")) == "", F.lit(0).cast("long")
    ).otherwise(folded)


def simhash64(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) via the native kernel, staged through select so the
    token-hash subtree appears once in the plan. Fanned out to cluster
    width (no-op at scale) — see minhash_banded."""
    from wikibrain_spark.session import fan_out

    return fan_out(documents).select("doc_id", simhash64_col(F.col(text_col)).alias("simhash"))


def _chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """Split 64 bits into n_chunks contiguous (start, width) chunks."""
    base, rem = divmod(64, n_chunks)
    bounds, s = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        bounds.append((s, w))
        s += w
    return bounds


def simhash_near_pairs(documents: DataFrame, max_hamming: int = 3, text_col: str = "text") -> DataFrame:
    """ALL pairs with hamming <= max_hamming over simhash64 signatures.
    Returns (doc_a, doc_b, hamming)."""
    return simhash_pairs_from_signatures(simhash64(documents, text_col), max_hamming)


def simhash_pairs_from_signatures(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """ALL (doc_id, simhash) pairs with hamming <= max_hamming, by pigeonhole
    banding into max_hamming+1 bit chunks (if at most max_hamming bits
    differ, at least one of max_hamming+1 chunks is identical -> the pair
    meets in a bucket), verified by exact popcount. Deterministic with FULL
    recall at the radius — exactly SQL-specifiable (the driver oracle
    enumerates the same pair set from staged signatures via xor+bit_count).

    Scale shape: the join is an equi-join on (chunk_id, chunk) buckets —
    never all-pairs; candidate volume is governed by chunk width
    (64/(max_hamming+1) bits)."""
    n_chunks = max_hamming + 1
    chunk_exprs = [
        F.shiftrightunsigned("simhash", s).bitwiseAND(F.lit((1 << w) - 1))
        for s, w in _chunk_bounds(n_chunks)
    ]
    chunks = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_id", "chunk"),
    )
    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk_id") == F.col("b.chunk_id"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.where(hamming <= max_hamming).select("doc_a", "doc_b", hamming.alias("hamming"))


def embedding_near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 4,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicates with HYPERPLANE-LSH blocking — the
    scale path the label-blocked variant points at: candidates share a
    signed-projection bucket in ANY of n_tables tables (OR-amplified recall
    1-(1-p^planes)^tables, p = 1 - theta/pi), then exact cosine verifies so
    precision is exact. Recall is pinned against the exact label-blocked
    kernel in pytest. Lower thresholds need fewer planes / more tables."""
    from wikibrain_spark.operators.simsearch import hyperplane_signatures

    sig = hyperplane_signatures(
        embeddings, n_planes=n_planes, n_tables=n_tables, seed=17,
        id_col=id_col, vec_col=vec_col,
    ).select(F.col(id_col).alias("id"), "table_id", "bucket")
    norm = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    d = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), norm.alias("nrm")
    ).join(sig, "id")
    a = d.alias("a")
    b = d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
            F.col("a.nrm").alias("na"), F.col("b.nrm").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    sim = dot / (F.col("na") * F.col("nb"))
    return pairs.where(sim >= threshold).select(
        "id_a", "id_b", F.floor(sim * 1000).cast("long").alias("sim_e3"),
    )


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iterations: int = 30,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over the near-dup pair
    graph, cluster_id = MIN doc id in the component (the deterministic
    survivor a dedup pipeline keeps; every other member is the drop set).

    Iterative min-label propagation WITH pointer jumping, in a
    driver-controlled fixpoint loop like the ontology closure's (whose
    delta doubling is this pointer jump's analogue): each round takes,
    per node, the min over (its own label, its neighbors' labels pushed one
    hop across the symmetrized edge list, and the label OF its current
    label — the pointer-doubling shortcut). One-hop alone converges in
    O(component diameter) rounds and silently mislabels chains longer than
    the iteration cap; the label-of-label jump halves the remaining
    distance to the component minimum each round, so convergence is
    O(log diameter) — a 1M-node chain needs ~20 rounds, not 1M. Each round
    is two shuffles (the jump self-join + the groupBy-min; map-side partial
    agg keeps the min shuffle at one row per node). If the fixpoint is NOT
    reached within ``max_iterations`` the function raises instead of
    returning wrong cluster labels. Nodes are the pair endpoints; singleton
    documents are not emitted (they are their own trivial cluster by
    definition)."""
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        e.select(F.col("a").alias("id")).distinct()
        .select("id", F.col("id").alias("label"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iterations):
        neigh = labels.join(e, labels["id"] == e["a"]).select(
            F.col("b").alias("id"), "label"
        )
        # pointer jump: node -> label(label(node)). label ids are node ids
        # (min over a set containing the node's own id), so the lookup is a
        # self-join of the label table on (my label == other's id).
        jump = (
            labels.alias("x")
            .join(labels.alias("y"), F.col("x.label") == F.col("y.id"))
            .select(F.col("x.id").alias("id"), F.col("y.label").alias("label"))
        )
        new_labels = (
            labels.union(neigh).union(jump)
            .groupBy("id").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        if new_labels.join(labels, ["id", "label"], "left_anti").isEmpty():
            converged = True
            break
        labels = new_labels
    if not converged:
        raise RuntimeError(
            f"near_dup_clusters: min-label propagation did not reach a fixpoint "
            f"within max_iterations={max_iterations}; labels would be wrong for "
            f"components of diameter > 2^{max_iterations}. Raise max_iterations."
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))
