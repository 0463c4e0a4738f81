"""Deduplication for training-data pipelines.

Six strategies, each chosen for a different scale/fidelity point:

- **exact**        : hash-groupBy on normalized text. One shuffle of (hash,
                     id) pairs only — never ships full text.
- **n-gram Jaccard**: exact set-similarity on word shingles, JVM-side
                     (``array_intersect``/``array_union``) over candidate
                     pairs. Quadratic — use behind a blocking stage.
- **MinHash + LSH** : shingles → 64-perm minhash signature (default tier:
                     ONE fused Arrow kernel — byte-level tokenize + a
                     bit-exact xxhash64 twin + the permutation rehash, all
                     vectorized numpy; a ``mapInPandas`` md5 tier is the
                     DuckDB oracle) → band buckets → candidates only from
                     shared buckets (standard banding: b bands of r rows,
                     P(candidate) = 1-(1-s^r)^b), expanded per bucket from
                     one grouped aggregation and verified in-row. Shuffle
                     volume is O(#docs * #bands) rows, each carrying the
                     doc's id and whole signature (num_perm longs): the
                     signature kernel runs once, with no re-attach join.
- **SimHash**      : 64-bit fingerprint, near-dups = hamming ≤ k, banded on
                     16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ one of 4
                     chunks equal).
- **winnowing**    : documents sharing selected character-k-gram
                     fingerprints (local overlap, MOSS-style).
- **embedding cosine**: near-dup joins on embedding vectors; brute-force
                     within LSH hyperplane buckets (``similarity.py``).

Signatures are computed in Arrow batches on the executors. The MinHash and
n-gram kernels are vectorized numpy with no per-row Python; the SimHash and
winnowing kernels, and the md5 oracle tier, loop over rows in Python.

Every pair function returns a lazy plan and persists nothing: MinHash,
SimHash and winnowing read their signatures once, and pair members inside
one grouped aggregation (``_bucket_pairs``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- exact dedup ---------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per exact (whitespace-normalized) text.

    Implemented as groupBy(fingerprint) over (hash, id) — the full text never
    shuffles; the winner set joins back to the input (broadcast-or-shuffle,
    Catalyst's call). First-occurrence-wins mirrors the reference's
    ``DistinctOp`` seen-set semantics (``distinct.py:41-45``) made
    deterministic by min-id.
    """
    # NB: deliberately NOT _fan_out here — keyed feeds two consumers with no
    # persist, so a repartition would run (and shuffle full rows) twice; the
    # design point of this operator is that text never shuffles at all
    # (winners broadcast back). Measured slower with fan-out (1.2s -> 2.5s).
    norm = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    keyed = df.withColumn("_fp", F.xxhash64(norm))
    winners = keyed.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return keyed.join(winners, [id_col, "_fp"], "inner").drop("_fp")


# --- shingling (shared) -----------------------------------------------------------


# scale-adaptive scan fan-out (see functions/layout.py for the rationale:
# single-row-group files cap scan parallelism at 1-2 tasks). Dedup's
# downstream work is interpreted shingling + per-gram hashing — heavy per
# byte — so the fan-out pays from a few hundred KB up (layout.py note).
from palimpzest_spark.functions.layout import fan_out as _fan_out_base  # noqa: E402


def _fan_out(df: DataFrame) -> DataFrame:
    # per_task_bytes: the consumers are Arrow kernels — cap width so each
    # Python-worker round trip carries a real batch (see layout.fan_out)
    return _fan_out_base(df, min_bytes=64 * 1024, per_task_bytes=64 * 1024)


def word_shingles(col: str, n: int = 3) -> F.Column:
    """Distinct word n-grams as an array column — pure JVM expression
    (transform over a slice range), no UDF."""
    toks = F.split(F.trim(F.col(col)), r"\s+")
    k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.array_distinct(grams)


# --- bucket pairs (shared) ---------------------------------------------------------


def _bucket_pairs(
    members: DataFrame, keys: list[str], member: F.Column, max_size: int | None = None
) -> DataFrame:
    """(a, b) for every two members that share a bucket ``keys`` value, a
    before b in ``sort_array`` order — also twice when a member is listed
    twice, so callers filter a strict order on their id and drop duplicates.

    One grouped aggregation, not a bucket self-join: the groupBy ships each
    member once, and each member pairs in-row with the tail after it. A bucket of k members emits
    k rows carrying its O(k) array — per-row memory is O(bucket), never
    O(bucket^2). Buckets over ``max_size`` members (stop-grams) emit nothing.
    """
    size = F.size("_m")
    keep = size > 1 if max_size is None else (size > 1) & (size <= max_size)
    buckets = (
        members.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias("_m"))
        .filter(keep)
    )
    return buckets.select("_m", F.posexplode("_m").alias("_pos", "a")).select(
        "a", F.explode(F.slice("_m", F.col("_pos") + 2, size)).alias("b")
    )


# --- n-gram Jaccard ----------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
) -> DataFrame:
    """All pairs (a < b) with word-``n``-gram Jaccard ≥ threshold — EXACT.

    Default path is **prefix filtering** (AllPairs / PPJoin family,
    Chaudhuri et al. 2006): order the gram universe by global frequency
    (rarest first); a set of size ``s`` needs only its first
    ``s - ceil(t*s) + 1`` grams exploded, because any pair with
    Jaccard >= t shares >= ceil(t*max(|A|,|B|)) grams and therefore at
    least one PREFIX gram under a common total order. Candidates from the
    prefix equi-join are verified with the exact intersection/union — no
    false negatives (unlike r1's length-bucket blocking, whose boundary
    straddle was a recall hole), no false positives (exact verify).

    Scale shape: shuffles are (gram -> count) and the prefix equi-join on
    rare grams + a size-ratio prune (t*|A| <= |B| <= |A|/t); gram arrays
    travel only for verification of surviving candidate pairs, never
    through the explode. Passing ``block_col`` (e.g. a language column)
    adds an equi-key that both bounds the join and preserves exactness
    within blocks.
    """
    narrow = _fan_out(
        df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_t"),
            *([F.col(block_col).alias("blk")] if block_col else []),
        )
    )
    # r6: grams are HASHED to 8-byte longs (xxhash64) right after shingling,
    # and every downstream stage — the document-frequency groupBy, the
    # rarity ranking, the prefix self-join, the verification intersections —
    # runs on longs instead of ~20-byte gram strings (guide §2.3 narrower
    # types: ~60% fewer shuffle bytes through three exchanges, and
    # array_intersect/array_union hash longs instead of strings). Jaccard on
    # the hashed sets equals Jaccard on the string sets unless two DISTINCT
    # grams of the same pair's ~100-gram union collide in 64 bits
    # (P ~ 10^-16 per pair; verified exactly equal to the string-gram output
    # on every test SF). The rarity order's tie-break changes (hash order vs
    # lexicographic) — irrelevant for exactness: ANY consistent total order
    # satisfies the prefix lemma, and candidates only affect cost.
    #
    # r6b: the shingling + per-gram hash itself moved from interpreted JVM
    # HOFs into the vectorized byte-level Arrow kernel (same values — the
    # distinct SET of xxhash64(gram) longs — pinned by
    # ``test_gram_kernel_matches_jvm``; see _minhash_signatures_jvm).
    id_field = narrow.schema["id"]
    out_fields = [
        T.StructField("id", id_field.dataType, id_field.nullable),
        T.StructField("grams", T.ArrayType(T.LongType(), True), False),
    ]
    if block_col:
        blk_field = narrow.schema["blk"]
        out_fields.append(
            T.StructField("blk", blk_field.dataType, blk_field.nullable)
        )

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            extras = [batch.column(i) for i in range(2, batch.num_columns)]
            vh, offs = _distinct_gram_hashes(batch.column(1), n, None)
            grams = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()),
                pa.array(vh, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, grams, *extras], [f.name for f in out_fields]
            )

    # No persist: the gram kernel runs once per consumer (the document
    # frequencies, the prefix ranking and the verify, whose two sides share
    # one exchange). Persisting it and the prefix rows measured no faster
    # (sf1.0, local[4]: 53.0 s with, 48.5 s without) and needs a cache
    # lifetime that the caller of a lazy plan cannot see.
    base = narrow.mapInArrow(kernel, schema=T.StructType(out_fields)).withColumn(
        "sz", F.size("grams")
    )

    tok = base.select("id", "sz", F.explode("grams").alias("g"),
                      *(["blk"] if block_col else []))
    freq = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df_"))
    # rarest-first total order (ties broken by the gram hash itself); prefix
    # length p = sz - ceil(t*sz) + 1
    ranked = (
        tok.join(freq, "g")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df_", "g"))).alias("ordered"),
            F.first("sz").alias("sz"),
            *( [F.first("blk").alias("blk")] if block_col else [] ),
        )
        # epsilon guards the float product: ceil(0.6*5) = ceil(3.0000000004)
        # would shrink the prefix below the lemma's bound (false negatives)
        .withColumn(
            "p", F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9)) + 1
        )
        .select(
            "id", "sz",
            F.posexplode(
                F.transform(F.slice("ordered", 1, F.col("p")), lambda x: x["g"])
            ).alias("pos", "g"),
            *(["blk"] if block_col else []),
        )
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    # PPJoin positional filter (Xiao et al. 2008), exact: a true pair's
    # FIRST shared gram (in the global order) is in both prefixes, and past
    # it each side has sz - pos - 1 grams left, so the overlap reachable
    # through THIS match is 1 + min(...); pruning matches below the required
    # overlap alpha = ceil(t/(1+t) * (szA+szB)) keeps at least that first
    # match of every true pair (epsilon again keeps alpha from rounding UP
    # through float noise, which could only over-prune).
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
        - F.lit(1e-9)
    )
    cond = (
        (F.col("a.g") == F.col("b.g"))
        & (F.col("a.id") < F.col("b.id"))
        # size-ratio prune: Jaccard >= t forces min >= t*max (epsilon: an
        # exact-boundary pair like |A|=5,|B|=3 at t=0.6 must survive)
        & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - F.lit(1e-9))
        & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz") - F.lit(1e-9))
        & (
            F.lit(1)
            + F.least(
                F.col("a.sz") - F.col("a.pos") - 1,
                F.col("b.sz") - F.col("b.pos") - 1,
            )
            >= alpha
        )
    )
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    cands = a.join(b, cond).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    ).distinct()

    # both verify sides are the same plan up to the alias, so Spark reuses
    # one exchange of the gram arrays for the two joins
    ga, gb = base.alias("ga"), base.alias("gb")
    pairs = cands.join(ga, F.col("id_a") == F.col("ga.id")).join(
        gb, F.col("id_b") == F.col("gb.id")
    )
    inter = F.size(F.array_intersect("ga.grams", "gb.grams"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| — the sets' sizes are already columns,
    # so the per-pair array_union hash-build (the other half of the verify
    # CPU) is pure waste; integer identity, bit-identical jaccard (r6)
    jac = inter.cast("double") / (F.col("ga.sz") + F.col("gb.sz") - inter)
    return (
        pairs.select("id_a", "id_b", jac.alias("jaccard_raw"))
        .filter(F.col("jaccard_raw") >= threshold)
        # engine-agnostic HALF_UP (see functions/text.py round_sql)
        .withColumn(
            "jaccard",
            F.floor(F.col("jaccard_raw") * 10000.0 + 0.5) / 10000.0,
        )
        .select("id_a", "id_b", "jaccard")
    )


# --- MinHash + LSH -------------------------------------------------------------------


# gram-combiner constants (odd, < 2^20 so c*uint32-token-hash fits uint64 comfortably)
_GRAM_C = (0x9E377, 0x85EBD, 0xC2B2B)


# XXH64 primes (public xxHash spec, same constants as Spark's XXH64.java)
_XXP1 = np.uint64(0x9E3779B185EBCA87)
_XXP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXP3 = np.uint64(0x165667B19E3779F9)
_XXP4 = np.uint64(0x85EBCA77C2B2AE63)
_XXP5 = np.uint64(0x27D4EB2F165667C5)


def _xxh64_long(value: np.ndarray, seed: np.ndarray | np.uint64) -> np.ndarray:
    """Vectorized twin of Spark's ``XXH64.hashLong(value, seed)`` — the
    primitive behind ``F.xxhash64`` on a LONG column. uint64 arithmetic
    wraps mod 2^64 by construction; bit-identity with the JVM is pinned by
    ``tests/test_functions.py::test_xxh64_long_matches_spark``."""
    r31, r33 = np.uint64(31), np.uint64(33)
    r27, r29, r32 = np.uint64(27), np.uint64(29), np.uint64(32)
    w64 = np.uint64(64)
    with np.errstate(over="ignore"):  # uint64 wraparound IS the algorithm
        k = value * _XXP2
        k = ((k << r31) | (k >> (w64 - r31))) * _XXP1
        h = (seed + _XXP5 + np.uint64(8)) ^ k
        h = ((h << r27) | (h >> (w64 - r27))) * _XXP1 + _XXP4
        h ^= h >> r33
        h *= _XXP2
        h ^= h >> r29
        h *= _XXP3
        return h ^ (h >> r32)


def _xxh64_int(value: np.uint64, seed: np.ndarray | np.uint64) -> np.ndarray:
    """Vectorized twin of Spark's ``XXH64.hashInt(value, seed)`` — the path
    an INTEGER literal takes inside ``F.xxhash64`` (a python-int ``F.lit``
    is IntegerType, so the permutation ordinal folds through the 4-byte
    primitive, not the 8-byte one)."""
    r23, r33 = np.uint64(23), np.uint64(33)
    r29, r32, w64 = np.uint64(29), np.uint64(32), np.uint64(64)
    with np.errstate(over="ignore"):  # uint64 wraparound IS the algorithm
        h = (seed + _XXP5 + np.uint64(4)) ^ ((value & np.uint64(0xFFFFFFFF)) * _XXP1)
        h = ((h << r23) | (h >> (w64 - r23))) * _XXP2 + _XXP3
        h ^= h >> r33
        h *= _XXP2
        h ^= h >> r29
        h *= _XXP3
        return h ^ (h >> r32)


# --- vectorized byte-level shingle + hash kernel (r6) ---------------------------


def _vrotl(x: np.ndarray, r: int) -> np.ndarray:
    rr = np.uint64(r)
    return (x << rr) | (x >> (np.uint64(64) - rr))


def _xxh64_bytes_fixed(m: np.ndarray, seed: np.uint64) -> np.ndarray:
    """XXH64 of every ROW of a (k, L) uint8 matrix, vectorized across rows —
    the twin of Spark's ``XXH64.hashUnsafeBytes`` (the primitive behind
    ``F.xxhash64`` on a STRING column; Spark's port follows the public
    xxHash64 spec, little-endian words, verified bit-identical by
    ``test_xxh64_bytes_matches_spark``)."""
    k, L = m.shape
    with np.errstate(over="ignore"):  # uint64 wraparound IS the algorithm
        i = 0
        if L >= 32:
            v = [
                np.full(k, seed + _XXP1 + _XXP2, dtype=np.uint64),
                np.full(k, seed + _XXP2, dtype=np.uint64),
                np.full(k, seed, dtype=np.uint64),
                np.full(k, seed - _XXP1, dtype=np.uint64),
            ]
            while i + 32 <= L:
                for j in range(4):
                    lane = (
                        m[:, i + 8 * j : i + 8 * j + 8]
                        .copy()
                        .view("<u8")
                        .reshape(k)
                        .astype(np.uint64)
                    )
                    v[j] = _vrotl(v[j] + lane * _XXP2, 31) * _XXP1
                i += 32
            h = _vrotl(v[0], 1) + _vrotl(v[1], 7) + _vrotl(v[2], 12) + _vrotl(v[3], 18)
            for j in range(4):
                h = (h ^ (_vrotl(v[j] * _XXP2, 31) * _XXP1)) * _XXP1 + _XXP4
        else:
            h = np.full(k, seed + _XXP5, dtype=np.uint64)
        h = h + np.uint64(L)
        while i + 8 <= L:
            k1 = m[:, i : i + 8].copy().view("<u8").reshape(k).astype(np.uint64)
            h = _vrotl(h ^ (_vrotl(k1 * _XXP2, 31) * _XXP1), 27) * _XXP1 + _XXP4
            i += 8
        if i + 4 <= L:
            k1 = m[:, i : i + 4].copy().view("<u4").reshape(k).astype(np.uint64)
            h = _vrotl(h ^ (k1 * _XXP1), 23) * _XXP2 + _XXP3
            i += 4
        while i < L:
            h = _vrotl(h ^ (m[:, i].astype(np.uint64) * _XXP5), 11) * _XXP1
            i += 1
        h ^= h >> np.uint64(33)
        h *= _XXP2
        h ^= h >> np.uint64(29)
        h *= _XXP3
        return h ^ (h >> np.uint64(32))


def _xxh64_bytes_varlen(
    buf: np.ndarray, starts: np.ndarray, lens: np.ndarray, seed: np.uint64
) -> np.ndarray:
    """XXH64 of n byte-slices of ``buf`` — groups slices by length and runs
    the fixed-length row kernel per group (gram lengths cluster on a few
    dozen values, so each group is one wide vectorized pass)."""
    n = len(lens)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out
    order = np.argsort(lens, kind="stable")
    sl = lens[order]
    bounds = np.flatnonzero(np.diff(sl)) + 1
    for grp in np.split(order, bounds):
        L = int(lens[grp[0]])
        if L == 0:
            out[grp] = _xxh64_bytes_fixed(np.empty((len(grp), 0), dtype=np.uint8), seed)
            continue
        pos = starts[grp][:, None] + np.arange(L, dtype=np.int64)[None, :]
        out[grp] = _xxh64_bytes_fixed(buf[pos], seed)
    return out


def _gram_spans(
    data: np.ndarray, starts: np.ndarray, ends: np.ndarray, n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Byte-level twin of ``word_shingles``'s tokenize+join, vectorized over
    a whole batch: UTF-8 text buffer + per-doc [start,end) spans →
    (normalized buffer, gram start, gram len, doc-of-gram).

    Semantics mirror the JVM expression chain exactly (pinned by
    ``test_gram_kernel_matches_jvm``): ``F.trim`` strips 0x20 only; Java
    ``\\s`` is the ASCII class [ \\t\\n\\x0B\\f\\r] (UTF-8 multi-byte
    sequences never contain ASCII bytes, so byte-level splitting is exact);
    split keeps leading/trailing empty tokens (limit -1); the normalized
    buffer is the trimmed text with every whitespace run collapsed to one
    0x20, so gram g of doc d is a contiguous SLICE — token windows joined
    by ' ' with no per-gram string building. k = max(n_tok - n + 1, 1)
    grams per doc (short docs emit one gram spanning all tokens)."""
    nd = len(starts)
    # trim 0x20 at both ends
    ns_idx = np.flatnonzero(data != 32)
    if ns_idx.size:
        lo = np.searchsorted(ns_idx, starts)
        hi = np.searchsorted(ns_idx, ends)
        empty = lo >= hi
        t_start = np.where(empty, starts, ns_idx[np.minimum(lo, ns_idx.size - 1)])
        t_end = np.where(empty, starts, ns_idx[np.maximum(hi - 1, 0)] + 1)
    else:
        empty = np.ones(nd, dtype=bool)
        t_start = t_end = starts
    # whitespace runs (Java \s = ASCII [ \t\n\x0B\f\r])
    ws = (
        (data == 32) | (data == 9) | (data == 10)
        | (data == 11) | (data == 12) | (data == 13)
    )
    prev_ws = np.empty_like(ws)
    if ws.size:
        prev_ws[0] = False
        prev_ws[1:] = ws[:-1]
    run_start = ws & ~prev_ws
    # membership mask for the trimmed doc bodies
    delta = np.zeros(len(data) + 1, dtype=np.int32)
    np.add.at(delta, t_start, 1)
    np.add.at(delta, t_end, -1)
    region = np.cumsum(delta[:-1]) > 0
    keep_ws = run_start
    # a ws byte AT a region start is always its run's kept byte (the run may
    # have begun in trimmed-off spaces or the previous doc's bytes)
    rs = t_start[~empty]
    if rs.size:
        rs = rs[ws[rs]]
        keep_ws = keep_ws.copy()
        keep_ws[rs] = True
    final_keep = region & (~ws | keep_ws)
    norm = data[final_keep].copy()
    norm[ws[final_keep]] = 32  # every kept separator byte becomes ' '
    # per-doc offsets into the normalized buffer
    K = np.concatenate(([0], np.cumsum(final_keep)))
    norm_start = K[t_start]
    norm_end = K[t_end]
    # token boundaries: every 0x20 in norm is a separator
    sep = np.flatnonzero(norm == 32)
    if sep.size:
        n_sep = np.searchsorted(sep, norm_end) - np.searchsorted(sep, norm_start)
    else:
        n_sep = np.zeros(nd, dtype=np.int64)
    n_tok = n_sep + 1
    tok_base = np.concatenate(([0], np.cumsum(n_tok)))
    tok_start = np.empty(tok_base[-1], dtype=np.int64)
    tok_end = np.empty(tok_base[-1], dtype=np.int64)
    tok_start[tok_base[:-1]] = norm_start
    tok_end[tok_base[1:] - 1] = norm_end
    if sep.size:
        doc_of_sep = np.searchsorted(norm_start, sep, side="right") - 1
        sep_base = np.concatenate(([0], np.cumsum(n_sep)))
        slot = tok_base[doc_of_sep] + (np.arange(sep.size) - sep_base[doc_of_sep])
        tok_end[slot] = sep
        tok_start[slot + 1] = sep + 1
    # gram spans
    k_d = np.maximum(n_tok - n + 1, 1)
    gram_base = np.concatenate(([0], np.cumsum(k_d)))
    doc_of_gram = np.repeat(np.arange(nd), k_d)
    g_local = np.arange(gram_base[-1]) - gram_base[doc_of_gram]
    g_start = tok_start[tok_base[doc_of_gram] + g_local]
    last_tok = np.minimum(g_local + n - 1, n_tok[doc_of_gram] - 1)
    g_end = tok_end[tok_base[doc_of_gram] + last_tok]
    return norm, g_start, g_end - g_start, doc_of_gram


def _distinct_gram_hashes(
    arr, n: int, fold_int_seed: int | None
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row DISTINCT gram-hash sets of an Arrow string array, as
    (values int64, row offsets int64).

    Value semantics are EXACTLY the r5/r6 JVM expression
    ``array_distinct(transform(word_shingles(text, n), g -> xxhash64(g)))``
    (single-arg when ``fold_int_seed`` is None) or the minhash form
    ``xxhash64(g, lit(seed))`` — the distinct SET of hash values is the
    same mathematical object whether distinctness is taken over gram
    strings or over their hashes. NULL text mirrors the JVM fold: the
    shingle chain yields one NULL gram and ``xxhash64(NULL[, lit])``
    skips null children (hash stays at the default seed 42)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n_rows = len(arr)
    if n_rows == 0:
        return np.empty(0, dtype=np.int64), np.zeros(1, dtype=np.int64)
    nulls = pc.is_null(arr).to_numpy(zero_copy_only=False)
    if nulls.any():
        arr = pc.fill_null(arr, "")
    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[
        arr.offset : arr.offset + n_rows + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    norm, g_start, g_len, dog = _gram_spans(data, off[:-1], off[1:], n)
    h = _xxh64_bytes_varlen(norm, g_start, g_len, np.uint64(42))
    if fold_int_seed is not None:
        h = _xxh64_int(np.uint64(fold_int_seed), h)
    hi = h.view(np.int64)
    # distinct per doc: sort (doc, hash), mask firsts
    order = np.lexsort((hi, dog))
    sd, sh = dog[order], hi[order]
    keep = np.empty(len(sd), dtype=bool)
    if len(sd):
        keep[0] = True
        keep[1:] = (sd[1:] != sd[:-1]) | (sh[1:] != sh[:-1])
    vd, vh = sd[keep], sh[keep]
    offsets = np.concatenate(
        ([0], np.cumsum(np.bincount(vd, minlength=n_rows)))
    )
    if nulls.any():
        # a NULL text row has exactly one gram slot (the filled "" emits one
        # gram); overwrite it with the JVM's null-fold value
        null_val = np.uint64(42)
        if fold_int_seed is not None:
            null_val = _xxh64_int(
                np.uint64(fold_int_seed), np.full(1, 42, dtype=np.uint64)
            )[0]
        vh = vh.copy()
        vh[offsets[:-1][nulls]] = np.int64(np.array([null_val]).view(np.int64)[0])
    return vh, offsets


def _minhash_signatures_jvm(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    shingle_n: int,
    seed: int,
) -> DataFrame:
    """(id, signature: array<long>) — ONE fused Arrow stage: vectorized
    byte-level shingling + xxhash64 + the permutation rehash.

    The at-scale default tier (the "jvm" name means the xxhash64 value
    family, bit-identical to the JVM expression chain — r6b moved the
    COMPUTATION out of the JVM, the VALUES are pinned unchanged). History:
    the r4/r5 pure-JVM ``array_min(transform(_gh, h -> xxhash64(h, i)))``
    form paid ~64 interpreted CodegenFallback passes per row (77.6s
    driver-measured at sf1.0); r6 moved the rehash into numpy; r6b moves
    the remaining interpreted HOF work — gram-string building
    (``array_join(slice(...))``) and the per-gram string hash — into the
    same Arrow stage as fully-vectorized byte-level numpy
    (``_gram_spans`` + ``_xxh64_bytes_varlen``: whitespace-run collapse
    over the raw UTF-8 buffer, gram = slice of the normalized buffer,
    hash = the spec XXH64 grouped by gram length). Zero per-token Python,
    zero interpreted JVM HOFs; only (id, text) crosses the boundary once.

    Equivalence: signatures are bit-identical to the r5 HOF expression —
    ``test_minhash_jvm_rehash_bit_identical`` (values) and
    ``test_gram_kernel_matches_jvm`` (tokenizer/hash parity incl. tab/
    unicode-whitespace/empty/null edges) pin it; the md5 oracle tier and
    the banding/verify stages are untouched.

    ``xxhash64(h, i)`` as the permutation family: not algebraically
    universal, but an avalanche mixer, which is what the banding model
    P(candidate)=1-(1-s^r)^b actually assumes; deterministic across
    processes/JVMs (unlike builtin hash()).
    """
    base = _fan_out(
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
        )
    )

    iv = np.arange(num_perm, dtype=np.uint64)
    seed42 = np.uint64(42)

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            n_docs = len(ids)
            if n_docs == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=pa.list_(pa.int64()))],
                    ["id", "signature"],
                )
                continue
            vh, offs = _distinct_gram_hashes(batch.column(1), shingle_n, seed)
            # every row emits >= 1 gram (word_shingles semantics), so every
            # reduceat segment is non-empty
            h2 = _xxh64_long(vh.view(np.uint64), seed42)
            starts = offs[:-1]
            sig = np.empty((n_docs, num_perm), dtype=np.int64)
            for i in range(num_perm):
                sig[:, i] = np.minimum.reduceat(
                    _xxh64_int(iv[i], h2).view(np.int64), starts
                )
            out = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(n_docs + 1, dtype=np.int64) * num_perm,
                    type=pa.int32(),
                ),
                pa.array(sig.reshape(-1), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays([ids, out], ["id", "signature"])

    return base.mapInArrow(kernel, schema="id long, signature array<long>")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
    token_hash: str = "jvm",
) -> DataFrame:
    """(id, signature: array<long>).

    Tiers: ``jvm`` (default: one ``mapInArrow`` numpy kernel whose values
    are bit-identical to the JVM xxhash64 expression chain — see
    ``_minhash_signatures_jvm``) and ``md5`` (DuckDB-recomputable oracle
    tier, ``mapInPandas``).

    Permutation family: both tiers use an avalanche mix (xxhash64 /
    md5), which is what the banding probability model
    P(candidate)=1-(1-s^r)^b actually assumes. The r1-r4
    ``(a*h + b) mod 2^61-1`` family with a < 2^31 stretched the 2^32-wide
    gram-hash domain across at most ~4 modular wraps, i.e. it was
    PIECEWISE MONOTONE in h — not remotely a random permutation — so on
    low-entropy vocabularies (shared token lattice) the per-permutation
    argmin coincided across unrelated documents and est_jaccard ran ~+0.5
    biased (measured on the sf0.01 documents table: mean est-true =
    +0.496, 49 false near-dup pairs at t=0.5 vs the exact-Jaccard truth;
    the avalanche families measure bias -0.004).

    md5-tier design:
    - one hash per TOKEN (not per gram): gram hashes are a numpy combine of
      shifted token-hash arrays (``c1*h[i] + c2*h[i+1] + c3*h[i+2] mod 2^32``)
      — no per-gram string building, no per-doc set() (duplicate grams can't
      change a min).
    - the (num_perm × grams) permute-and-min runs once per sub-chunk of the
      batch with ``np.minimum.reduceat`` over per-doc segment boundaries —
      one matrix op instead of a Python loop per document. Sub-chunks cap the
      matrix at ~32M elements so executor memory stays bounded.
    md5 is deterministic across processes (builtin hash() is salted by
    PYTHONHASHSEED — never use it in distributed signatures).
    """
    if token_hash == "jvm":
        return _minhash_signatures_jvm(
            df, text_col, id_col, num_perm, shingle_n, seed
        )
    if token_hash != "md5":
        raise ValueError(f"unknown token_hash: {token_hash}")
    cs = [np.uint64(c) for c in _GRAM_C[:shingle_n]]
    max_cells = 32_000_000  # perm-matrix element cap per sub-chunk

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def tok_h(t: str) -> int:
            # first 8 md5 hex digits as uint32 — DuckDB recomputes the same
            return int(hashlib.md5(t.encode()).hexdigest()[:8], 16)

        def perm_matrix(hh: np.ndarray) -> np.ndarray:
            """(num_perm, n_grams) permuted-hash matrix, uint64: a random-
            oracle family DuckDB can replay — permutation i of gram g =
            first 15 md5 hex digits (60 bits, fits a signed bigint on both
            engines) of "<g>:<i>". Hash each DISTINCT gram once per
            permutation, then gather."""
            uniq, inv = np.unique(hh, return_inverse=True)
            tab = np.empty((num_perm, len(uniq)), dtype=np.uint64)
            for u, g in enumerate(uniq):
                gs = str(int(g))
                for i in range(num_perm):
                    tab[i, u] = int(
                        hashlib.md5(f"{gs}:{i}".encode()).hexdigest()[:15], 16
                    )
            return tab[:, inv]

        mask32 = np.uint64(0xFFFFFFFF)

        def doc_grams(text: str) -> np.ndarray:
            toks = text.split()
            th = np.fromiter(
                (tok_h(t) for t in toks), dtype=np.uint64, count=len(toks)
            )
            if len(th) >= shingle_n:
                g = cs[0] * th[: len(th) - shingle_n + 1]
                for k in range(1, shingle_n):
                    g = g + cs[k] * th[k : len(th) - shingle_n + 1 + k]
                return (g & mask32).astype(np.int64)
            # short doc: a single gram over whatever tokens exist
            g = np.uint64(0)
            for k in range(len(th)):
                g += cs[k] * th[k]
            return np.array([int(g & mask32)], dtype=np.int64)

        for pdf in batches:
            ids = pdf[id_col].tolist()
            texts = pdf[text_col].fillna("").tolist()
            sigs: list[list[int]] = []
            grams_buf: list[np.ndarray] = []
            bounds = [0]
            n_grams = 0

            def flush():
                nonlocal grams_buf, bounds, n_grams
                if not grams_buf:
                    return
                hh = np.concatenate(grams_buf)
                m = perm_matrix(hh)
                # min in the uint64 domain (any fixed total order works for
                # MinHash; it just has to be the same one everywhere), then
                # reinterpret as signed long for the Spark array<long> column
                mins = np.minimum.reduceat(m, np.asarray(bounds[:-1]), axis=1)
                sigs.extend(mins.view(np.int64).T.tolist())
                grams_buf, bounds, n_grams = [], [0], 0

            for text in texts:
                g = doc_grams(text)
                grams_buf.append(g)
                n_grams += len(g)
                bounds.append(n_grams)
                if n_grams * num_perm >= max_cells:
                    flush()
            flush()
            yield pd.DataFrame({"id": ids, "signature": sigs})

    return _fan_out(df.select(id_col, text_col)).mapInPandas(
        compute, schema="id long, signature array<long>"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    token_hash: str = "jvm",
    band_hash: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified by signature
    agreement (estimated Jaccard = fraction of matching minhashes ≥ threshold).

    Plan shape: signatures (1 row/doc) → explode to ``bands`` rows/doc →
    groupBy band-hash bucket (``_bucket_pairs``, one shuffle) → in-row pair
    expansion and verify → distinct verified pairs. Text never shuffles.
    Each band row carries its doc's whole signature (num_perm longs), so the
    shuffle is ~``bands * num_perm * 8`` bytes per doc instead of 8-byte
    hashes plus two signature re-attach joins: the signature kernel runs
    once and nothing is persisted (Spark ML's
    ``MinHashLSH.approxSimilarityJoin`` makes the same trade).
    """
    rows = num_perm // bands
    if rows == 0:
        raise ValueError(
            f"bands ({bands}) > num_perm ({num_perm}): every band slice "
            f"would be empty, every document would share every bucket, and "
            f"the candidate step degenerates to an O(n^2) cross product"
        )
    if num_perm % bands:
        raise ValueError(
            f"bands ({bands}) must divide evenly into num_perm ({num_perm}) "
            f"— the trailing {num_perm % bands} permutations would be "
            f"silently ignored by the banding"
        )
    sigs = minhash_signatures(
        df, text_col, id_col, num_perm, shingle_n, seed, token_hash
    )

    # band bucket id: xxhash64 (8B shuffle payload, the at-scale default) or
    # md5 (32B, DuckDB-recomputable — the oracle-parity hook). ONE slice
    # expression parameterized by the exploded band ordinal, not 16 unrolled
    # copies inside a posexplode(transform(...)): the unrolled form compiled
    # a 16x-larger codegen unit — measured 1.5-3x slower to first result on
    # the candidate stage at sf0.1 (janino compile + per-row expression
    # dispatch), identical output.
    joined = F.concat_ws(
        ",",
        F.transform(
            F.slice("signature", F.col("band") * rows + 1, rows),
            lambda x: x.cast("string"),
        ),
    )
    bucket = F.xxhash64(joined) if band_hash == "xxhash64" else F.md5(joined)
    banded = sigs.select(
        "id", "signature",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).select("id", "signature", "band", bucket.alias("bucket"))

    # A doc id that repeats in the input lands twice in its buckets; the
    # strict id order drops its (id, id) pairs.
    pairs = _bucket_pairs(
        banded, ["band", "bucket"], F.struct("id", "signature")
    ).filter(F.col("a.id") < F.col("b.id"))
    est = F.size(
        F.filter(
            F.zip_with("a.signature", "b.signature", lambda x, y: x == y),
            lambda eq: eq,
        )
    ).cast("double") / F.lit(float(num_perm))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


# --- SimHash -----------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "crc32",
) -> DataFrame:
    """64-bit SimHash over word tokens (vectorized numpy).

    ``token_hash='md5'`` is the DuckDB-recomputable tier: a 60-bit token
    hash from the first 15 md5 hex digits (bits 60-63 stay zero on both
    engines, so the signature fits a signed bigint everywhere); crc32
    stays the 64-bit hot-path default."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from zlib import crc32  # deterministic (builtin hash() is salted)

        if token_hash == "crc32":
            def tok_h(t: str) -> int:
                return crc32(t.encode()) | (crc32((t + "#").encode()) << 32)
        elif token_hash == "md5":
            import hashlib

            def tok_h(t: str) -> int:
                return int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        else:
            raise ValueError(f"unknown token_hash: {token_hash}")

        bits = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            out = []
            for text in pdf[text_col].fillna(""):
                toks = text.split() or [""]
                h = np.fromiter(
                    (tok_h(t) for t in toks),
                    dtype=np.uint64,
                    count=len(toks),
                )
                # (T, 64) bit matrix -> column sums -> sign
                m = ((h[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int32)
                v = (2 * m - 1).sum(axis=0)
                sig = int(((v > 0).astype(np.uint64) << bits).sum(dtype=np.uint64))
                out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)  # two's-complement long
            yield pd.DataFrame({"id": pdf[id_col], "simhash": pd.array(out, dtype="int64")})

    return _fan_out(df.select(id_col, text_col)).mapInPandas(
        compute, schema="id long, simhash long"
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "crc32",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ k via chunk banding.

    Pigeonhole: splitting 64 bits into ``k+1`` chunks guarantees a pair with
    ≤ k differing bits shares at least one identical chunk, so banding has
    perfect recall for the requested ``max_hamming`` (capped at 16 chunks —
    beyond that candidate volume outweighs the recall gain at scale)."""
    sigs = simhash_signatures(df, text_col, id_col, token_hash)
    n_chunks = min(max_hamming + 1, 16)
    width = 64 // n_chunks
    # chunk i covers bits [i*width, (i+1)*width), last chunk takes the remainder
    chunk_exprs = []
    for i in range(n_chunks):
        w = width if i < n_chunks - 1 else 64 - width * (n_chunks - 1)
        mask = (1 << w) - 1
        chunk_exprs.append(
            F.shiftrightunsigned("simhash", i * width).bitwiseAND(F.lit(mask))
        )
    chunks = sigs.select(
        "id",
        "simhash",
        F.posexplode(F.array(*chunk_exprs)).alias("chunk_idx", "chunk"),
    )
    pairs = _bucket_pairs(
        chunks, ["chunk_idx", "chunk"], F.struct("id", "simhash")
    ).filter(F.col("a.id") < F.col("b.id"))
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- winnowing fingerprints --------------------------------------------------------


_WINNOW_P = 2147483647  # 2^31 - 1


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
) -> DataFrame:
    """One row per (document, selected winnowing fingerprint) — the exploded
    MOSS fingerprint index (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash every
    character k-gram of the normalized text, slide a window of ``w``
    consecutive hashes, keep each window's minimum. Guarantee: any substring
    match of length ≥ w + k - 1 between two documents yields at least one
    SHARED selected fingerprint, while only ~2/(w+1) of gram hashes are kept.
    As a set, the selected fingerprints are exactly the distinct window
    minima, which is what this computes.

    The gram hash is deliberately a portable 31-polynomial over character
    codes mod 2^31-1 (seed 0) instead of ``xxhash64``: DuckDB recomputes the
    identical fold (``list_reduce``), so driver queries built on this are
    value-hash ORACLE-CHECKED cross-engine, not rows-only.

    Normalization (lower + strip non-alnum) is a JVM expression; hashing and
    window minima are Arrow-batched numpy (k vectorized passes for the
    polynomial, ``sliding_window_view`` minima — same shape as the MinHash
    signature path; a pure higher-order-function formulation re-inlines the
    normalization regexp per character and is quadratic). No per-row Python
    arithmetic. At scale the output is the narrow shape you want: downstream
    grouping shuffles only (int64, id) pairs, never text.
    """
    p = _WINNOW_P

    @F.pandas_udf("array<long>")
    def fps(norm: pd.Series) -> pd.Series:
        out = []
        for s in norm:
            if s is None or len(s) < k:
                out.append([])
                continue
            a = np.frombuffer(s.encode("latin-1", errors="replace"), dtype=np.uint8)
            a = a.astype(np.int64)
            n_grams = len(a) - k + 1
            h = np.zeros(n_grams, dtype=np.int64)
            for j in range(k):  # definitional fold: h = (31h + c) mod p
                h = (h * 31 + a[j : j + n_grams]) % p
            if n_grams >= w:
                mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
            else:
                mins = h.min(keepdims=True)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", "")
    return _fan_out(df.select(id_col, text_col)).select(
        F.col(id_col).alias("id"), F.explode(fps(norm)).alias("fingerprint")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    w: int = 8,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints —
    local-overlap / containment detection (MOSS-style), complementary to
    MinHash (which measures whole-document resemblance).

    Plan shape: explode → group ids per fingerprint (``_bucket_pairs``; the
    optional document-frequency cap drops a fingerprint in > ``max_df``
    docs in the same aggregate — a stop-gram: boilerplate that would fan
    out quadratically, the same df-cap discipline as
    ``ngram_jaccard_pairs``) → in-row pairs (id < id) → groupBy pair count.
    Shuffles ids + 8-byte fingerprints only.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    # no array_distinct: a pair is counted once per (row of a, row of b)
    # sharing a fingerprint, the multiset a fingerprint equi-join gives
    pairs = _bucket_pairs(fps, ["fingerprint"], F.col("id"), max_df)
    return (
        pairs.filter(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
