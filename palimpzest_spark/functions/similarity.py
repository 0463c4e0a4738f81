"""Similarity search over embedding columns (``array<float>``).

Three tiers for three scales:
- ``embedding_top_k`` (operators/topk.py): exact brute-force cosine, one scan
  + TakeOrderedAndProject. The baseline; at 100 TB it's one pass, no shuffle.
- ``knn_join``: exact k-NN of a (small, broadcast) query set against the
  corpus — per-corpus-row similarity to every query (JVM-side), explode,
  window top-k per query. No cross-shuffle: the corpus never moves.
- ``lsh_top_k`` / ``lsh_knn_join``: random-hyperplane LSH — bucket corpus
  rows by sign pattern (one cheap scan), probe only matching/multi-probe
  buckets. The scale path: candidate set shrinks by ~2^bits.

Hyperplanes are seeded (42) and generated driver-side, shipped as literal
arrays — deterministic everywhere, nothing to persist.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from palimpzest_spark.operators.topk import cosine_similarity_col, embedding_top_k  # noqa: F401


def _norm(vec_col: str) -> Column:
    return F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0), lambda a, x: a + x * x))


def knn_join(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact k-NN for a small query set: for each query id, the top-k corpus
    rows by cosine. Queries are inlined as a literal array-of-structs and
    exploded against each corpus row — corpus stays put, one window top-k."""
    qarr = F.array(
        *[
            F.struct(
                F.lit(qid).alias("query_id"),
                F.array(*[F.lit(float(x)) for x in q]).alias("qvec"),
            )
            for qid, q in queries
        ]
    )
    exploded = corpus.select(id_col, vec_col).withColumn(
        "_q", F.explode(qarr)
    )
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col("_q.qvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    qn = F.sqrt(
        F.aggregate(F.col("_q.qvec"), F.lit(0.0), lambda a, x: a + x * x)
    )
    sim = dot / (_norm(vec_col) * qn)
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc(id_col))
    return (
        exploded.select(F.col("_q.query_id").alias("query_id"), id_col, sim.alias("similarity"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, bits: int = 8, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def lsh_bucket_col(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id: bit i = (vec . plane_i) > 0. Pure JVM fold —
    no UDF, so bucketing survives whole-stage codegen."""
    bucket = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), p, lambda a, b: a * b), F.lit(0.0), lambda a, x: a + x
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def probe_buckets(qbucket: int, bits: int, hamming: int) -> set[int]:
    """All bucket ids within ``hamming`` bit flips of the query's bucket —
    the multiprobe recall knob, honored for ANY distance (the previous
    hand-unrolled distance-1/-2 sets silently capped a requested hamming=3
    at 2, so turning recall up did nothing). Probe count is
    sum_{d<=hamming} C(bits, d); callers keep it small."""
    from itertools import combinations

    probes = {qbucket}
    for d in range(1, min(max(hamming, 0), bits) + 1):
        for flips in combinations(range(bits), d):
            m = 0
            for i in flips:
                m |= 1 << i
            probes.add(qbucket ^ m)
    return probes


def lsh_top_k(
    corpus: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    bits: int = 8,
    multiprobe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's bucket plus all buckets within
    ``multiprobe_hamming`` bit flips (recall knob), exact cosine inside.

    At scale the bucket column is precomputed/partitioned-on at write time,
    so a probe prunes to (hamming+1 choose flips) partitions of the corpus.
    """
    dim = len(query)
    planes = hyperplanes(dim, bits, seed)
    qsigns = (planes @ np.asarray(query)) > 0
    qbucket = int(sum(1 << i for i, s in enumerate(qsigns) if s))
    probes = probe_buckets(qbucket, bits, multiprobe_hamming)
    bucketed = corpus.withColumn("_bkt", lsh_bucket_col(vec_col, planes))
    cand = bucketed.filter(F.col("_bkt").isin(sorted(probes)))
    return (
        cand.withColumn("similarity", cosine_similarity_col(vec_col, query))
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
        .drop("_bkt")
    )


def write_lsh_index(
    corpus: DataFrame,
    path: str,
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 42,
) -> None:
    """Materialize the corpus partitioned BY ITS LSH BUCKET — the 100 TB
    probe path: ``lsh_top_k``'s bucket scan becomes parquet partition
    pruning, so a query touches (multiprobe count)/2^bits of the files
    instead of scanning everything. Hyperplanes are derived from (dim, bits,
    seed), so readers regenerate them — nothing else to persist."""
    dim = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(dim, bits, seed)
    (
        corpus.withColumn("_bkt", lsh_bucket_col(vec_col, planes))
        .write.mode("overwrite")
        .partitionBy("_bkt")
        .parquet(path)
    )


def lsh_top_k_indexed(
    spark,
    path: str,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    bits: int = 8,
    multiprobe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k against a ``write_lsh_index`` layout: the bucket
    predicate is a partition filter (check PartitionFilters in .explain) —
    only the probed buckets' files are read."""
    planes = hyperplanes(len(query), bits, seed)
    qsigns = (planes @ np.asarray(query)) > 0
    qbucket = int(sum(1 << i for i, s in enumerate(qsigns) if s))
    probes = probe_buckets(qbucket, bits, multiprobe_hamming)
    cand = spark.read.parquet(path).filter(F.col("_bkt").isin(sorted(probes)))
    return (
        cand.withColumn("similarity", cosine_similarity_col(vec_col, query))
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
        .drop("_bkt")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, blocked by multi-table LSH.

    A single sign-pattern table has no recall guarantee — a high-cosine pair
    is split whenever ANY hyperplane lands between the two vectors. Standard
    OR-construction instead: ``n_tables`` independent tables (different seed
    each); a pair is a candidate if it shares a bucket in ANY table
    (miss probability ≈ (1-(1-θ/π)^bits)^n_tables). Exact cosine verification
    on candidates. Shuffle volume: O(rows·n_tables) ids+buckets, never vectors.
    """
    dim = len(corpus.select(vec_col).first()[0])
    bucketed = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    tables = F.array(
        *[lsh_bucket_col("v", hyperplanes(dim, bits, seed + t)) for t in range(n_tables)]
    )
    exploded = bucketed.select(
        "id", F.posexplode(tables).alias("tbl", "bkt")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = bucketed.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = bucketed.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    sim = dot / (_norm_of(F.col("va")) * _norm_of(F.col("vb")))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("similarity", sim)
        .filter(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "similarity")
    )


def _norm_of(col: Column) -> Column:
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda a, x: a + x * x))


# --- IVF (inverted-file) index -------------------------------------------------------


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 64,
    vec_col: str = "embedding",
    iters: int = 10,
    sample_per_centroid: int = 256,
    seed: int = 42,
) -> np.ndarray:
    """K-means coarse quantizer trained driver-side on a BOUNDED sample
    (``n_centroids * sample_per_centroid`` rows — the standard IVF recipe:
    training needs a sample, not the corpus; assignment streams over the
    full data). Deterministic: seeded sample, seeded init, fixed iters.
    Returns L2-normalized centroids (spherical k-means, since the query
    metric is cosine)."""
    cap = n_centroids * sample_per_centroid
    n = corpus.count()
    frac = min(1.0, cap / max(n, 1) * 1.2)
    sample = (
        corpus.select(vec_col).sample(fraction=frac, seed=seed).limit(cap).collect()
    )
    X = np.asarray([r[0] for r in sample], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)  # cosine on unit vectors
        for j in range(k):
            m = assign == j
            if m.any():
                C[j] = X[m].mean(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def ivf_assign_col(vec_col: str, centroids: np.ndarray, normalize: bool = True):
    """Nearest-centroid id per row as an Arrow-batched pandas UDF (numpy
    matmul per batch — k x dim floats broadcast in the closure; k=4096,
    dim=1024 is 16 MB, fine as a task binary). JVM fold would need k
    codegen'd dot products per row — past ~32 centroids the vectorized
    batch matmul wins.

    ``normalize=False`` is the DuckDB-recomputable tier hook: with integer
    vectors and integer centroids the raw argmax dot is EXACT in both
    engines (row normalization never changes the argmax mathematically —
    positive per-row scale — so the hot spherical-kmeans path and the
    oracle tier pick the same centroid up to float noise)."""
    from pyspark.sql.functions import pandas_udf

    C = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _assign(v: pd.Series) -> pd.Series:
        X = np.asarray(list(v), dtype=np.float64)
        if normalize:
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(X @ C.T, axis=1).astype(np.int32))

    return _assign(F.col(vec_col))


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    normalize: bool = True,
) -> None:
    """Materialize the corpus partitioned by nearest-centroid id (the
    inverted lists). A query probing ``nprobe`` centroids reads
    nprobe/n_centroids of the files via parquet partition pruning."""
    (
        corpus.withColumn("_ivf", ivf_assign_col(vec_col, centroids, normalize))
        .write.mode("overwrite")
        .partitionBy("_ivf")
        .parquet(path)
    )


def ivf_top_k(
    spark,
    path: str,
    query: list[float],
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k against a ``write_ivf_index`` layout: the query's
    ``nprobe`` nearest centroids are computed driver-side (numpy over the
    k x dim centroid matrix), the corresponding inverted lists are read via
    partition pruning (PartitionFilters in .explain), exact cosine inside."""
    q = np.asarray(query, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(centroids @ q), kind="stable")
    probes = [int(x) for x in order[:nprobe]]
    cand = spark.read.parquet(path).filter(F.col("_ivf").isin(probes))
    return (
        cand.withColumn("similarity", cosine_similarity_col(vec_col, query))
        .orderBy(F.desc("similarity"), F.asc(id_col))
        .limit(k)
        .drop("_ivf")
    )


def ivf_top_k_dot(
    spark,
    path: str,
    query_int: list[int],
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Integer-dot tier of :func:`ivf_top_k` (the DuckDB-recomputable hook):
    probes are argsort of exact integer centroid·query dots (ties → smaller
    centroid id), candidates are ranked by the exact integer inner product
    computed JVM-side (``zip_with`` + ``aggregate`` over longs — no float
    accumulation anywhere, so the oracle can replay rank-for-rank). Same
    partition-pruned read shape as the cosine tier."""
    q = np.asarray(query_int, dtype=np.int64)
    C = np.asarray(centroids, dtype=np.int64)
    scores = C @ q
    probes = sorted(range(len(C)), key=lambda c: (-int(scores[c]), c))[:nprobe]
    qcol = F.array(*[F.lit(int(x)).cast("long") for x in query_int])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), qcol, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = spark.read.parquet(path).filter(F.col("_ivf").isin(probes))
    return (
        cand.withColumn("dot", dot)
        .orderBy(F.desc("dot"), F.asc(id_col))
        .limit(k)
        .drop("_ivf")
    )


def _sem_topk_exact_arrow(
    q: DataFrame, c: DataFrame, vec_col: str, id_col: str, k: int
) -> DataFrame | None:
    """Exact per-record top-k against an index-sized corpus as ONE Arrow
    stage: the corpus (id, vector) is materialized once (same driver
    footprint as the broadcast join it replaces), shipped to executors via
    ``sc.broadcast``, and each record batch computes its sims against the
    whole matrix with vectorized numpy.

    Bit-identity contract with the JVM formulation it replaces
    (``aggregate(zip_with(qv, cv, a*b), 0.0d, acc+x)`` etc.):
    - float32 x float32 products stay float32; everything else multiplies
      in float64 (Spark promotes the narrower side exactly);
    - accumulation is SEQUENTIAL float64, one dimension at a time — the
      same IEEE op order as the JVM fold, so sums match bit-for-bit;
    - sim = dot / (norm_q * norm_c), norms folded the same way;
    - ordering is (sim DESC, id ASC) with Spark semantics: NaN sorts
      greatest, NULL sims (null vector / length mismatch) sort last by id.

    Returns None when the shapes fall outside the fast path (non-numeric
    ids, non-float vectors, ragged corpus) — the caller falls back to the
    join formulation.
    """
    from pyspark.sql import types as T

    c_el = c.schema[vec_col].dataType
    q_el = q.schema["_qv"].dataType
    id_t = c.schema[id_col].dataType
    if not (
        isinstance(c_el, T.ArrayType)
        and isinstance(q_el, T.ArrayType)
        and isinstance(c_el.elementType, (T.FloatType, T.DoubleType))
        and isinstance(q_el.elementType, (T.FloatType, T.DoubleType))
        and isinstance(id_t, (T.IntegerType, T.LongType, T.ShortType))
    ):
        return None
    c_f32 = isinstance(c_el.elementType, T.FloatType)
    q_f32 = isinstance(q_el.elementType, T.FloatType)
    both_f32 = c_f32 and q_f32

    import pyarrow as pa
    import pyarrow.compute as pc

    tab = c.select(id_col, vec_col).toArrow()
    ids_col = tab.column(0).combine_chunks()
    vec_arr = tab.column(1).combine_chunks()
    n_corpus = len(ids_col)
    ids_all = ids_col.to_numpy(zero_copy_only=False).astype(np.int64)
    clens = pc.fill_null(pc.list_value_length(vec_arr), 0).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    cnull = vec_arr.is_null().to_numpy(zero_copy_only=False)
    cvals = vec_arr.flatten().to_numpy(zero_copy_only=False)
    if n_corpus and not cnull.any() and clens.size and (clens == clens[0]).all():
        dim = int(clens[0]) if clens.size else 0
        Cm = cvals.reshape(n_corpus, dim)
        good_ids = ids_all
        null_tail = np.empty(0, dtype=np.int64)
    else:
        # ragged / null corpus vectors: keep the modal-length rows in the
        # matrix, everything else joins the null-sim tail (the JVM zip_with
        # over mismatched lengths folds to a NULL sim)
        if n_corpus == 0:
            dim, Cm = 0, np.empty((0, 0), dtype=cvals.dtype)
            good_ids = np.empty(0, dtype=np.int64)
            null_tail = np.empty(0, dtype=np.int64)
        else:
            lens_ok = clens[~cnull]
            if lens_ok.size == 0:
                return None
            dim = int(np.bincount(lens_ok).argmax())
            goodm = (~cnull) & (clens == dim)
            starts_all = np.cumsum(clens) - clens
            idx = starts_all[goodm][:, None] + np.arange(dim)[None, :]
            Cm = cvals[idx.reshape(-1)].reshape(-1, dim)
            good_ids = ids_all[goodm]
            null_tail = np.sort(ids_all[~goodm])
    # corpus norms: x*x in the element dtype, sequential float64 accumulation
    acc_c = np.zeros(len(Cm), dtype=np.float64)
    for j in range(dim):
        p = Cm[:, j] * Cm[:, j]
        acc_c += p
    cn = np.sqrt(acc_c)
    all_ids_sorted = np.sort(ids_all)

    spark = q.sparkSession
    bc = spark.sparkContext.broadcast(
        (good_ids, Cm, cn, null_tail, all_ids_sorted, dim)
    )
    nk_cap = k
    id_arrow = tab.schema.field(0).type

    def kernel(batches):
        g_ids, C, c_norm, n_tail, a_sorted, L = bc.value
        N = len(g_ids)
        total = N + len(n_tail)
        prod_f32 = both_f32
        for batch in batches:
            rid = batch.column(0)
            qv = batch.column(1)
            qlens = pc.fill_null(pc.list_value_length(qv), 0).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            qnull = qv.is_null().to_numpy(zero_copy_only=False)
            qvals = qv.flatten().to_numpy(zero_copy_only=False)
            starts = np.cumsum(qlens) - qlens
            good = (~qnull) & (qlens == L)
            take_idx: list[np.ndarray] = []
            ranks: list[np.ndarray] = []
            out_ids: list[np.ndarray] = []
            out_sims: list[np.ndarray] = []
            null_mask: list[np.ndarray] = []
            # records whose vector is NULL / wrong length: every sim is
            # NULL, so the window ordering degenerates to id ASC
            nk_null = min(nk_cap, len(a_sorted))
            for r in np.nonzero(~good)[0]:
                take_idx.append(np.full(nk_null, r, dtype=np.int64))
                ranks.append(np.arange(1, nk_null + 1, dtype=np.int32))
                out_ids.append(a_sorted[:nk_null])
                out_sims.append(np.zeros(nk_null, dtype=np.float64))
                null_mask.append(np.ones(nk_null, dtype=bool))
            grows = np.nonzero(good)[0]
            if grows.size and total:
                gidx = starts[grows][:, None] + np.arange(L)[None, :]
                Q = qvals[gidx.reshape(-1)].reshape(-1, L)
                # record-chunking bounds the (chunk x corpus) f64 working set
                chunk = max(1, 4_000_000 // max(N, 1))
                nk = min(nk_cap, total)
                for s0 in range(0, len(grows), chunk):
                    Qc = Q[s0 : s0 + chunk]
                    rows = grows[s0 : s0 + chunk]
                    m = len(Qc)
                    Qa = Qc if prod_f32 else Qc.astype(np.float64)
                    Ca = C if prod_f32 else C.astype(np.float64)
                    # corpus-axis tiling keeps the f64 accumulator tile
                    # cache-resident across the L sequential-dim passes —
                    # 2.4x over accumulating into the full (m x N) matrix
                    # (measured 2.1s -> 0.86s at 207x20k x64), with the
                    # per-element op order (and therefore every IEEE sum)
                    # unchanged: each (record, corpus) accumulator still
                    # adds dims 0..L-1 sequentially in float64.
                    acc = np.empty((m, N), dtype=np.float64)
                    for c0 in range(0, N, 2048):
                        c1 = min(c0 + 2048, N)
                        tile = np.zeros((m, c1 - c0), dtype=np.float64)
                        for j in range(L):
                            tile += Qa[:, j][:, None] * Ca[c0:c1, j][None, :]
                        acc[:, c0:c1] = tile
                    accq = np.zeros(m, dtype=np.float64)
                    for j in range(L):
                        accq += Qa[:, j] * Qa[:, j]
                    qn = np.sqrt(accq)
                    with np.errstate(divide="ignore", invalid="ignore"):
                        sim = acc / (qn[:, None] * c_norm[None, :])
                    # ranking key: Spark orders descending doubles with NaN
                    # greatest (NaN -> +inf here); ties fall to id ASC via
                    # the stable lexsort secondary key
                    simk = np.where(np.isnan(sim), np.inf, sim)
                    kn = min(nk, N)
                    for t in range(m):
                        # O(N) top-k preselect: every row tied with the k-th
                        # largest sim is kept, so the exact (sim DESC, id
                        # ASC) order inside the candidate set is identical
                        # to a full sort (r6: the full per-record lexsort of
                        # the whole corpus dominated the kernel)
                        row = simk[t]
                        kth = np.partition(row, N - kn)[N - kn]
                        cidx = np.nonzero(row >= kth)[0]
                        order = cidx[np.lexsort((g_ids[cidx], -row[cidx]))][: kn]
                        ids_t = g_ids[order]
                        sims_t = sim[t, order]
                        nulls_t = np.zeros(len(order), dtype=bool)
                        if len(order) < nk:  # fill from the null-sim tail
                            fill = n_tail[: nk - len(order)]
                            ids_t = np.concatenate([ids_t, fill])
                            sims_t = np.concatenate(
                                [sims_t, np.zeros(len(fill), dtype=np.float64)]
                            )
                            nulls_t = np.concatenate(
                                [nulls_t, np.ones(len(fill), dtype=bool)]
                            )
                        take_idx.append(np.full(len(ids_t), rows[t], dtype=np.int64))
                        ranks.append(np.arange(1, len(ids_t) + 1, dtype=np.int32))
                        out_ids.append(ids_t)
                        out_sims.append(sims_t)
                        null_mask.append(nulls_t)
            if take_idx:
                ti = np.concatenate(take_idx)
                rk = np.concatenate(ranks)
                oi = np.concatenate(out_ids)
                osim = np.concatenate(out_sims)
                onull = np.concatenate(null_mask)
            else:
                ti = np.empty(0, dtype=np.int64)
                rk = np.empty(0, dtype=np.int32)
                oi = np.empty(0, dtype=np.int64)
                osim = np.empty(0, dtype=np.float64)
                onull = np.empty(0, dtype=bool)
            rid_out = rid.take(pa.array(ti, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [
                    rid_out,
                    pa.array(rk, type=pa.int32()),
                    pa.array(oi, type=pa.int64()).cast(id_arrow),
                    pa.array(osim, mask=onull, type=pa.float64()),
                ],
                ["_rid", "_rk", id_col, "_sim"],
            )

    out_schema = T.StructType(
        [
            T.StructField("_rid", q.schema["_rid"].dataType, True),
            T.StructField("_rk", T.IntegerType(), False),
            T.StructField(id_col, id_t, True),
            T.StructField("_sim", T.DoubleType(), True),
        ]
    )
    from palimpzest_spark.functions.layout import fan_out

    # the records side of a tiny scan is 1-2 input splits — without a
    # fan-out the whole kernel runs on one core (guide §2.5); adaptive, so
    # a large well-partitioned records side is left untouched. The floor
    # scales with the PER-RECORD work, which is O(|corpus| x dim) and known
    # exactly here: at 20k x 64 (1.3M flops/record) a 55KB records side
    # cost 1.8s on one task, so a big corpus gets the lowest floor in the
    # repo (4KB ~ a dozen records); against a small corpus the repartition
    # round-trip outweighs the compute (measured +0.3s at 2k x 64) and the
    # default floor stays.
    heavy = n_corpus * max(dim, 1) >= 500_000
    return fan_out(
        q,
        min_bytes=4096 if heavy else 1 << 20,
        per_task_bytes=4096 if heavy else 1 << 20,
    ).mapInArrow(kernel, schema=out_schema)


def _window_topk(joined: DataFrame, vec_col: str, id_col: str, k: int) -> DataFrame:
    """Per-record top-k over (record, corpus) candidate rows: cosine of
    ``_qv`` against ``vec_col`` in the JVM, then a row_number window per
    ``_rid`` ranked by similarity, ties on ascending corpus id."""
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col(vec_col), lambda a, b: a * b),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    sim = dot / (_norm("_qv") * _norm(vec_col))
    w = Window.partitionBy("_rid").orderBy(F.desc("_sim"), F.asc(id_col))
    return (
        joined.withColumn("_sim", sim)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
    )


def sem_topk(
    records: DataFrame,
    corpus: DataFrame,
    search_attr: str,
    record_id: str,
    output_attr: str = "retrieved",
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_col: str | None = None,
    dim: int = 64,
    bits: int | None = None,
    embed_fn=None,
) -> DataFrame:
    """Per-record retrieve-and-attach — the reference's ``TopKOp`` semantics
    (``/root/reference/src/palimpzest/query/operators/topk.py:122-155,
    233-278``): embed each record's ``search_attr``, retrieve its top-k
    corpus rows by cosine, and attach them to the record as a NEW column
    ``output_attr`` = array<struct(rank, id, similarity[, payload])>,
    rank-ordered. Unlike ``knn_join`` (small literal query set) this is
    per-record at DataFrame scale.

    Plan: one vectorized embed UDF over the records, then
    - exact tier (``bits=None``): records × broadcast(corpus) — corpus is an
      index-sized dimension, records never shuffle for the join;
    - LSH tier (``bits=b``): corpus bucketed once by sign pattern
      (``lsh_bucket_col`` — pure JVM), records probe their own bucket plus
      all hamming-1 neighbors (bits+1 probes), candidates equi-join on the
      bucket id — at 100 TB the shuffle carries bucket ids + vectors of the
      probed slice only, never the full cross product.
    Both tiers finish with a per-record window top-k (skew = bucket size,
    bounded by bits) and a sort_array(collect_list) pack — deterministic:
    ties break on ascending corpus id.
    """
    from palimpzest_spark.operators.strategies import embed_text_udf

    embed = embed_fn or embed_text_udf(dim)
    # retrieval side carries only (record_id, query vector): the search text
    # is dropped after embedding, so it never travels through the join (and
    # cannot collide with a same-named corpus column, e.g. pre-embedded
    # records where search_attr == vec_col)
    q = (
        records.select(record_id, search_attr)
        .withColumn("_qv", embed(F.col(search_attr)))
        # internal alias: record_id may equal the corpus id_col (pre-embedded
        # self-retrieval), so the retrieval side uses an unambiguous name
        .select(F.col(record_id).alias("_rid"), "_qv")
    )
    ccols = [id_col, vec_col] + ([payload_col] if payload_col else [])
    c = corpus.select(*ccols)

    if bits is not None:
        planes = hyperplanes(dim, bits)
        cb = c.withColumn("_cb", lsh_bucket_col(vec_col, planes))
        qb = q.withColumn("_qb0", lsh_bucket_col("_qv", planes))
        probes = F.array(
            F.col("_qb0"),
            *[F.col("_qb0").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
        )
        joined = qb.withColumn("_cb", F.explode(probes)).join(cb, "_cb")
        top = _window_topk(joined, vec_col, id_col, k)
    else:
        # exact tier, r6 shape: the corpus is index-sized BY CONTRACT (it was
        # already fully materialized on the driver by the r5 broadcast join),
        # so ship it once per executor as a numpy matrix and stream the
        # records through one mapInArrow partial top-k — the r5 plan was a
        # broadcast NESTED-LOOP cross join whose per-pair dot ran in
        # CodegenFallback-interpreted higher-order functions: records x
        # corpus x dim interpreted steps (65s driver-measured at sf1.0 for
        # sem_topk_attach_oracle). The kernel's float math reproduces the
        # JVM fold bit-for-bit (float32 products, sequential float64
        # accumulation), so sims / ranks / ties are unchanged; pinned by
        # test_sem_topk_exact_arrow_matches_jvm_join.
        top = _sem_topk_exact_arrow(
            q, c.drop(payload_col) if payload_col else c, vec_col, id_col, k
        )
        if top is None:
            # fallback for shapes outside the Arrow fast path (non-numeric
            # ids, non-float vectors): the r5 broadcast-join formulation
            top = _window_topk(q.join(F.broadcast(c)), vec_col, id_col, k)
        elif payload_col:
            # re-attach the payload by id: the top frame is <= records*k rows
            # (tiny), so Catalyst broadcasts it against the corpus scan — the
            # corpus payload never crosses the Python boundary
            top = top.join(c.select(id_col, payload_col), id_col, "left")
    entry = F.struct(
        F.col("_rk").alias("rank"),
        F.col(id_col).alias("id"),
        F.col("_sim").alias("similarity"),
        *([F.col(payload_col).alias(payload_col)] if payload_col else []),
    )
    packed = top.groupBy("_rid").agg(
        F.sort_array(F.collect_list(entry)).alias(output_attr)
    ).withColumnRenamed("_rid", record_id)
    return records.join(packed, record_id, "left")
