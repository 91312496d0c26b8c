"""Embedding similarity search: brute-force cosine top-k (baseline) and
an IVF-partitioned variant (scale path).

Brute force is the correctness oracle: broadcast the (small) query set
against the embedding corpus — one pass, no shuffle of the corpus,
cosine computed with ``zip_with``/``aggregate`` (JVM, no Python).

IVF is how the same query survives 100 TB: a one-pass assignment of
every vector to its nearest of C coarse centroids (vectorized Pandas
UDF over Arrow batches), corpus written partitioned by centroid id,
queries probe only ``nprobe`` nearest lists → the scan prunes to
nprobe/C of the data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from claims_data_spark.session import spread


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_safe(a: Column, b: Column) -> Column:
    """Cosine with a zero-norm guard: NULL when either vector has zero
    norm, instead of NaN. Spark (and DuckDB) order NaN ABOVE every
    number, so an unguarded all-zero corpus vector would rank first for
    any query and pass ``>= threshold`` filters; NULL fails both."""
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast; the corpus
    is scanned once. Top-k via per-query row_number window over the
    scored rows (the scored set is |corpus|×|queries| rows but never
    wider than 3 columns — Catalyst prunes the vectors after scoring).
    """
    q = F.broadcast(queries.select(query_id, query_vec))
    scored = spread(corpus.select(corpus_id, corpus_vec)).crossJoin(q).select(
        query_id,
        corpus_id,
        cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id, corpus_id, F.round("cos_sim", 6).alias("cos_sim"), F.col("_rn").cast("long").alias("rank"))
    )


def _assign_udf(centroids: np.ndarray):
    """Vectorized nearest-centroid assignment (Arrow-batched)."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ cn.T, axis=1).astype("int32"))

    return assign


def ivf_build(
    corpus: DataFrame,
    num_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 4096,
    kmeans_iters: int = 5,
    seed: int = 42,
):
    """Train coarse centroids (mini k-means on a driver-side sample —
    the sample is bounded, the corpus pass is distributed) and return
    (assigned_corpus, centroids). The assigned corpus carries a
    ``centroid_id`` column; at scale you would write it out
    ``partitionBy('centroid_id')`` so probes prune file groups."""
    sample = np.stack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in corpus.select(vec_col).limit(sample_n).collect()
        ]
    )
    rng = np.random.RandomState(seed)
    cents = sample[rng.choice(len(sample), min(num_centroids, len(sample)), replace=False)]
    for _ in range(kmeans_iters):
        sn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
        cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
        lab = np.argmax(sn @ cn.T, axis=1)
        for c in range(len(cents)):
            pts = sample[lab == c]
            if len(pts):
                cents[c] = pts.mean(axis=0)
    assigned = corpus.withColumn("centroid_id", _assign_udf(cents)(F.col(vec_col)))
    return assigned, cents


def ivf_topk(
    assigned_corpus: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: each query scans only its ``nprobe`` nearest
    centroid lists. The (query, centroid_id) probe table is broadcast;
    the corpus-side join key is ``centroid_id`` → partition pruning at
    scale."""
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(m @ cn.T), axis=1)[:, :nprobe]
        return pd.Series(list(order.astype("int32")))

    q = queries.withColumn("_probe", F.explode(probes(F.col(query_vec)))).select(
        query_id, query_vec, F.col("_probe").alias("centroid_id")
    )
    scored = assigned_corpus.join(F.broadcast(q), "centroid_id").select(
        query_id,
        corpus_id,
        cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id, corpus_id, F.round("cos_sim", 6).alias("cos_sim"), F.col("_rn").cast("long").alias("rank"))
    )


def blocked_pairwise_cosine(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    chunk: int = 512,
) -> DataFrame:
    """All within-block vector pairs (``id_a < id_b``) with cosine at
    or above ``threshold``.

    This is the Arrow-batched scale path for the blocked pair join +
    per-pair JVM ``zip_with``/``aggregate`` cosine: those higher-order
    functions are interpreted per element, so scoring B²/2 pairs of
    dim-d vectors costs B²·d interpreted lambda calls per block.  Here
    each block crosses to Python ONCE (grouped ``applyInPandas``) and
    the pairwise scores come from a chunked BLAS matmul of the
    row-normalized matrix — the per-pair arithmetic the JVM expression
    tree cannot vectorize.  Only pairs at/above the threshold return
    through Arrow, so the transfer is the result size, not B².

    ``chunk`` bounds memory to ``chunk × B`` doubles per similarity
    slab regardless of block size (a hot block degrades to more slabs,
    not a bigger allocation).  Blocks parallelize across the cluster —
    at 100 TB the block key is an LSH band or IVF centroid with
    thousands of groups, which is exactly the partitioning the shuffle
    uses.  Zero-norm vectors produce non-finite scores and are
    excluded, matching the JVM form's NaN-comparison behavior.
    """
    out_schema = T.StructType([
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("cos_sim", T.DoubleType()),
    ])

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        with np.errstate(divide="ignore", invalid="ignore"):
            normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        ia, ib, cs = [], [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            slab = normed[lo:hi] @ normed.T
            rows, cols = np.nonzero(
                (slab >= threshold)
                & (np.arange(n)[None, :] > (lo + np.arange(hi - lo))[:, None])
            )
            ia.append(ids[rows + lo])
            ib.append(ids[cols])
            cs.append(slab[rows, cols])
        return pd.DataFrame({
            "id_a": np.concatenate(ia),
            "id_b": np.concatenate(ib),
            "cos_sim": np.concatenate(cs),
        })

    return (
        df.select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).cast("long").alias(id_col),
            F.col(vec_col).alias(vec_col),
        )
        .groupBy("_blk")
        .applyInPandas(score_block, out_schema)
    )


def _collect_fixed_centroids(
    corpus: DataFrame,
    centroid_ids: list[int],
    id_col: str,
    vec_col: str,
) -> list[tuple[int, list[float]]]:
    """Fetch the codebook rows for a FIXED coarse quantizer. Bounded
    metadata: ``len(centroid_ids)`` rows, not data."""
    cent_rows = (
        corpus.filter(F.col(id_col).isin([int(c) for c in centroid_ids]))
        .select(id_col, vec_col)
        .collect()
    )
    return sorted((int(r[0]), [float(x) for x in r[1]]) for r in cent_rows)


def _sql_norm_unrolled(col: str, dim: int) -> str:
    """L2 norm unrolled to a left-nested sum: the association order of
    a sequential fold, so values are bit-identical to the oracle's
    ``list_aggregate(..., 'sum')``."""
    sq = " + ".join(
        f"element_at({col}, {i}) * element_at({col}, {i})"
        for i in range(1, dim + 1)
    )
    return f"SQRT({sq})"


def _seq_norm(vals: list[float]) -> float:
    """Python twin of the SQL sequential-fold L2 norm — same rounding
    as the engines' left fold (NOT math.fsum, whose exact summation
    can differ in the last ulp)."""
    import math

    s = 0.0
    for x in vals:
        s += x * x
    return math.sqrt(s)


def _rank_cids_arrow(cents: list[tuple[int, list[float]]]):
    """Arrow-batched centroid ranking: returns a pandas_udf mapping a
    vector column to the FULL centroid-id list sorted by (−cos, cid)
    ascending (first = nearest, ties to the lower centroid id), at a
    plan size of ONE node. The only kernel that ranks rows against
    fixed centroids: ``ivf_topk_fixed_centroids``, ``diversity_sample``
    and ``semantic_dedup`` all assign with it.

    Bit-exactness contract (the oracle reproduces assignments
    value-for-value): every float op replicates the oracle's
    SEQUENTIAL fold — ``acc = t0; acc += t_d`` left-association for
    dots and squared norms (numpy elementwise mul/add are plain IEEE
    double ops, no FMA fusion across the separate ufunc calls),
    division as dot/(nv*nc) in the same association, sqrt correctly
    rounded in both runtimes. Ranking ties resolve to the lower
    centroid id via a stable argsort over cid-ascending columns
    (callers pass centroids sorted by id), and -0.0 ties +0.0 as it
    does in SQL ordering — so negative zeros are normalised to +0.0
    before the sort. Zero-norm vectors take cosine −1.0 for every
    centroid, so they rank by ascending centroid id.

    Raises ``ValueError`` on a zero-norm centroid or centroids of
    different lengths and, inside the task, on a NULL or
    wrong-dimension vector row."""
    import pandas as pd

    cids = np.asarray([c for c, _ in cents], dtype=np.int64)
    cvecs = [[float(x) for x in v] for _, v in cents]
    dim = len(cvecs[0])
    if any(len(v) != dim for v in cvecs):
        raise ValueError(
            f"centroid vectors differ in length: {sorted({len(v) for v in cvecs})}"
        )
    ncs = [_seq_norm(v) for _, v in cents]
    for cid, nc in zip(cids, ncs):
        if nc == 0.0:
            raise ValueError(f"zero-norm centroid vector (id {cid})")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def rank(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        bad = [
            "NULL" if v is None else f"{len(v)}-dim"
            for v in vecs if v is None or len(v) != dim
        ]
        if bad:
            raise ValueError(
                f"centroid ranking needs non-NULL {dim}-dim vectors; "
                f"got {len(bad)} bad rows, e.g. {bad[0]}"
            )
        V = np.array(vecs.tolist(), dtype=np.float64)
        acc = V[:, 0] * V[:, 0]
        for d in range(1, dim):
            acc += V[:, d] * V[:, d]
        nv = np.sqrt(acc)
        zero = nv == 0.0
        NC = np.empty((V.shape[0], len(cids)), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            for j, (cv, nc) in enumerate(zip(cvecs, ncs)):
                dot_acc = V[:, 0] * cv[0]
                for d in range(1, dim):
                    dot_acc += V[:, d] * cv[d]
                cos = dot_acc / (nv * nc)
                cos[zero] = -1.0
                NC[:, j] = -cos + 0.0  # -0.0 -> +0.0
        order = np.argsort(NC, axis=1, kind="stable")
        ranked = cids[order]
        return pd.Series(list(ranked))

    return rank


def ivf_topk_fixed_centroids(
    corpus: DataFrame,
    queries: DataFrame,
    centroid_ids: list[int],
    k: int = 5,
    nprobe: int = 3,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """IVF top-k with a FIXED coarse quantizer: the codebook is the
    embeddings of ``centroid_ids`` (a valid IVF quantizer — the
    codebook need not be learned; fixed seed vectors trade a little
    recall for exact reproducibility), labelled by those ids.

    Unlike the k-means path (:func:`ivf_build`/:func:`ivf_topk`),
    every step here is deterministic — assignment and probe selection
    rank the centroids by (−cos, cid) with :func:`_rank_cids_arrow`
    (first-max, ties to the lower centroid id), scoring reuses the
    sequential-fold ``cosine`` — so an ANSI-SQL oracle reproduces
    assignments, probes and the exact top-k over the probed lists
    value-for-value. This is the oracle-checked variant; the scale
    story is identical to ``ivf_topk`` (probe table broadcast, corpus
    joined on ``centroid_id`` → partition pruning).

    The centroid collect is bounded metadata: ``len(centroid_ids)``
    rows.
    """
    cents = _collect_fixed_centroids(corpus, centroid_ids, corpus_id, corpus_vec)
    dim = len(cents[0][1])

    ranker = _rank_cids_arrow(cents)
    # spread: a small parquet scans as 1-2 tasks, serializing the
    # CPU-heavy assignment + verify stages regardless of cores
    assigned = (
        spread(corpus)
        .withColumn("centroid_id", ranker(F.col(corpus_vec))[0])
    )
    probes = queries.select(
        query_id, query_vec,
        F.explode(
            F.slice(ranker(F.col(query_vec)), 1, nprobe)
        ).alias("centroid_id"),
    )
    # exact verification cosine over the CANDIDATE set only. Norms are
    # unrolled codegen on each side before the join (simple stages
    # where the split fits); the column-vs-column dot stays the
    # single-pass lambda fold — unrolled text inlined into the
    # broadcast-join stage overflows the JVM's 64 KB method limit and
    # falls back to interpreted mode (measured; CollapseProject
    # re-inlines any attempt to split it into chained columns), and
    # the candidate set is probe-pruned so one tight interpreted loop
    # per candidate is cheap. Fold order matches the oracle's
    # sequential sum either way. Zero-norm rows would be NaN so they
    # are guarded out like everywhere else in this module.
    scored = (
        assigned.withColumn(
            "_nc", F.expr(_sql_norm_unrolled(f"`{corpus_vec}`", dim))
        )
        .join(
            F.broadcast(probes.withColumn(
                "_nq", F.expr(_sql_norm_unrolled(f"`{query_vec}`", dim))
            )),
            "centroid_id",
        )
        .withColumn("_dot", dot(F.col(corpus_vec), F.col(query_vec)))
        .select(
            query_id,
            corpus_id,
            F.when(
                (F.col("_nc") > 0) & (F.col("_nq") > 0),
                F.col("_dot") / (F.col("_nc") * F.col("_nq")),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            query_id, corpus_id,
            F.round("cos_sim", 6).alias("cos_sim"),
            F.col("_rn").cast("long").alias("rank"),
        )
    )
    return out


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transport
    form every large-scale ANN/training pipeline ships vectors in
    (4x smaller than float32, dot products in integer SIMD).

    scale = max|x| / 127; q_i = floor(x_i / scale + 0.5) (explicit
    round-half-up so every ANSI engine computes identical codes —
    built-in round() functions disagree on ties across engines).
    All-zero vectors quantize to zeros with scale 0. Pure row-local
    higher-order expressions: no shuffle, no Python, survives any
    corpus size as a map stage.
    """
    v = F.col(vec_col)
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = mx / F.lit(127.0)
    q = F.when(
        mx > 0,
        F.transform(
            v,
            lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumns({scale_col: scale, out_col: q})


def diversity_sample(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: list[list[float]],
    n_per_cluster: int,
    seed: str = "div",
    cluster_col: str = "cluster_id",
    rank_col: str = "sample_rank",
    two_phase: bool = False,
    num_salts: int = 16,
) -> DataFrame:
    """Diversity-preserving corpus subsampling: assign each row to its
    nearest centroid (cosine against fixed centroids — a k-means
    codebook from :func:`claims_data_spark.operators.cluster.kmeans_fit`,
    or any fixed anchor set), then keep at most ``n_per_cluster`` rows
    per cluster by the deterministic md5 draw. Equal per-cluster
    quotas flatten the density of the embedding space, so the sample
    covers the modes of the distribution instead of oversampling the
    head — the cluster-balanced selection step of coreset/data-pruning
    pipelines (SemDeDup-adjacent, but keeping diverse survivors rather
    than dropping near-dups).

    Scale shape: assignment is the map-only Arrow ranker the IVF
    oracle path uses (:func:`_rank_cids_arrow`), the draw is the
    engine-portable md5 uniform, and the quota is ONE rank window
    partitioned by cluster id. With few clusters over a huge corpus
    that window is a skew funnel (every row shuffles into k
    partitions);
    ``two_phase=True`` pre-prunes per (cluster, salt) to
    ``n_per_cluster`` candidates first — the final window then sees at
    most ``num_salts * n_per_cluster`` rows per cluster, the
    ``domain_cap`` salted-top-k pattern. Rows with NULL vectors carry
    no position in the space and are dropped (document them upstream);
    zero-norm vectors assign to the lowest centroid id (cosine -1
    everywhere). Centroids of different lengths, and vectors whose
    length differs from the centroids', raise ``ValueError``.

    Deterministic and retry-stable: assignment, draw, and tiebreak
    (draw, then id) are all value-derived; no ``rand()``.
    """
    if not centroids:
        raise ValueError("centroids must be non-empty")
    if n_per_cluster < 1:
        raise ValueError("n_per_cluster must be >= 1")
    cents = [(i, list(map(float, c))) for i, c in enumerate(centroids)]
    out = df.filter(F.col(vec_col).isNotNull()).withColumn(
        cluster_col, _rank_cids_arrow(cents)(F.col(vec_col))[0]
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(seed))), 1, 8
        ),
        16, 10,
    ).cast("double").alias("_du")
    out = out.withColumn("_du", u)
    order = [F.col("_du").asc(), F.col(id_col).asc()]
    if two_phase:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_salts))
        out = (
            out.withColumn("_drn", F.row_number().over(
                Window.partitionBy(F.col(cluster_col), salt).orderBy(*order)
            ))
            .filter(F.col("_drn") <= n_per_cluster)
            .drop("_drn")
        )
    w = Window.partitionBy(cluster_col).orderBy(*order)
    return (
        out.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= n_per_cluster)
        .drop("_du")
    )


# ---------------------------------------------------------------------------
# Semantic (embedding-space) dedup — SemDeDup-style
# ---------------------------------------------------------------------------

def semantic_dedup(
    corpus: DataFrame,
    centroid_ids: list[int],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space near-duplicate pruning (the SemDeDup recipe,
    Abbas et al. 2023): cluster the corpus with a coarse quantizer,
    then inside each cluster mark every vector that has a
    cosine-similar neighbor (>= ``threshold``) with a SMALLER id as a
    duplicate — the greedy keep-lowest-id rule, which needs no
    connected components and is order-independent.

    Scale story: the all-pairs comparison is confined to cluster
    buckets — the self-join keys on ``centroid_id``, so pair count is
    sum(|cluster|^2), bounded by the quantizer's granularity (at 100 TB
    you raise C so clusters stay ~1e4-1e5 rows; assignment itself is a
    map-only Arrow pass, :func:`_rank_cids_arrow`). No global cartesian
    ever forms. The codebook here is FIXED seed vectors (same trade as
    :func:`ivf_topk_fixed_centroids`): every step is deterministic work
    an ANSI oracle reproduces value-for-value.

    Returns one row per corpus vector: id, centroid_id, is_dup (1 when
    a smaller-id neighbor in the same cluster is >= threshold).
    """
    cents = _collect_fixed_centroids(corpus, centroid_ids, id_col, vec_col)
    assigned = spread(
        corpus.withColumn(
            "centroid_id", _rank_cids_arrow(cents)(F.col(vec_col))[0]
        )
    )
    left = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("_lid"),
        F.col(vec_col).alias("_lvec"),
    )
    right = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("_rid"),
        F.col(vec_col).alias("_rvec"),
    )
    dup_ids = (
        left.join(right, "centroid_id")
        .filter(F.col("_lid") < F.col("_rid"))
        .filter(cosine_safe(F.col("_lvec"), F.col("_rvec")) >= F.lit(threshold))
        .select(F.col("_rid").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(
            dup_ids.withColumn("_isdup", F.lit(1)), id_col, "left"
        )
        .select(
            id_col,
            "centroid_id",
            F.coalesce(F.col("_isdup"), F.lit(0)).cast("int").alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH approximate kNN (SimHash for embeddings)
# ---------------------------------------------------------------------------

def rh_planes(num_planes: int, dim: int, seed: str = "rhlsh",
              plane_range: int = 16) -> list:
    """Deterministic integer hyperplanes from the md5 family: plane
    coefficients in [-plane_range, plane_range], reproducible in any
    engine/driver (hashlib twin in tests; embedded as literals in the
    SQL oracle). Integer planes + int8-quantized vectors make every
    signature BIT exact — sign(int dot) has no FP boundary to flip."""
    import hashlib

    return [
        [
            (
                int(
                    hashlib.md5(f"rh|{seed}|{b}|{i}".encode()).hexdigest()[:8],
                    16,
                )
                % (2 * plane_range + 1)
            )
            - plane_range
            for i in range(dim)
        ]
        for b in range(num_planes)
    ]


def _band_keys_sql(qcol: str, planes: list, band_size: int) -> str:
    """The same band-key expression compiled to ONE SQL string parsed
    JVM-side — the repo's plan-construction pattern (SCALE.md round-5
    sweep): assembling 24 x 64-literal dot products through the Column
    API costs thousands of py4j round-trips (~4 s of driver wall per
    build, measured); one ``expr()`` crossing costs none of that."""
    def dot(p):
        arr = "array(" + ",".join(str(c) for c in p) + ")"
        return (
            f"aggregate(zip_with({qcol}, {arr},"
            f" (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)),"
            f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )

    bands = []
    for bi in range(len(planes) // band_size):
        key = " + ".join(
            f"(CASE WHEN {dot(planes[bi * band_size + j])} >= 0"
            f" THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for j in range(band_size)
        )
        bands.append(
            f"named_struct('band', {bi}, 'key', {key})"
        )
    return "array(" + ", ".join(bands) + ")"


def rh_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 24,
    band_size: int = 8,
    seed: str = "rhlsh",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH — the
    SimHash construction applied to embeddings, the third ANN path
    next to ``brute_force_topk`` (exact) and ``ivf_topk`` (probe-
    pruned): no codebook to train or store, candidate generation is a
    pure equi-join on (band, key) buckets.

    Signatures are computed over the int8-QUANTIZED vectors
    (``quantize_int8``) against INTEGER hyperplanes, so every sign bit
    is exact integer arithmetic — retry-stable and engine-exact (the
    repo's fixed-point discipline; float dots could flip a boundary
    bit between engines). Bits pack into ``num_planes/band_size``
    band keys; corpus and query band arrays explode and equi-join, so
    candidate work is Σ|bucket|·|query-hits|, never |corpus|×|queries|.
    Candidates dedup and verify with EXACT float cosine; ranking only
    ever sees verified scores (an LSH false positive costs a verify,
    never a wrong row — same contract as the MinHash/Bloom operators).

    Recall is governed by (num_planes, band_size): a candidate needs
    ONE identical band (prob ≈ Σ (1-θ/π)^band_size per band). Queries
    with no colliding candidates return < k rows — the documented
    LSH tradeoff (callers needing guaranteed k use brute force or
    raise bands).

    Scale shape: signatures/bands are map-only codegen on both sides;
    ONE exchange keys the band join (query side broadcast), one
    semi-join-shaped dedup on the pair, one hash join back to fetch
    the float vectors for verification, one top-k window per query.
    """
    if num_planes % band_size != 0:
        raise ValueError(
            f"num_planes ({num_planes}) must be divisible by band_size "
            f"({band_size}): trailing planes would be silently dropped, "
            "quietly lowering recall"
        )
    planes = rh_planes(num_planes, dim, seed)
    c = quantize_int8(
        spread(corpus.select(corpus_id, corpus_vec)),
        vec_col=corpus_vec, out_col="_q", scale_col="_s",
    )
    qy = quantize_int8(
        queries.select(query_id, query_vec),
        vec_col=query_vec, out_col="_q", scale_col="_s",
    )
    keys = F.expr(_band_keys_sql("_q", planes, band_size))
    c_bands = c.select(
        corpus_id, F.explode(keys).alias("_bk")
    ).select(corpus_id, "_bk.band", "_bk.key")
    q_bands = qy.select(
        query_id, F.explode(keys).alias("_bk")
    ).select(query_id, "_bk.band", "_bk.key")

    cand = (
        c_bands.join(F.broadcast(q_bands), ["band", "key"])
        .select(query_id, corpus_id)
        .distinct()
    )
    verified = (
        cand.join(corpus.select(corpus_id, corpus_vec), corpus_id)
        .join(
            F.broadcast(queries.select(query_id, query_vec)), query_id
        )
        .select(
            query_id,
            corpus_id,
            cosine_safe(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            query_id,
            corpus_id,
            F.round("cos_sim", 6).alias("cos_sim"),
            F.col("_rn").cast("long").alias("rank"),
        )
    )
