"""Similarity search over embedding columns (array<float>).

* :func:`brute_topk` — exact cosine top-k against a query vector using
  only built-in functions (``zip_with`` + ``aggregate`` dot product,
  JVM-side).  The correctness baseline; a full scan, but a NARROW full
  scan (no shuffle; TakeOrdered collects k rows per partition).
* :func:`lsh_bucket_topk` — random-hyperplane (SimHash) LSH: sign-bit
  bucket per vector, query probes its own bucket plus all buckets at
  Hamming distance <= ``multiprobe``; exact cosine refine inside the
  probed buckets.  The scale path: the bucket column is a stored
  partition key, so a probe is a pruned scan.
* :func:`ivf_topk` — IVF-style coarse quantizer: k-means centroids from
  a driver-side sample, nearest-centroid assignment (narrow pandas
  UDF), query probes ``nprobe`` nearest centroid lists.

Hyperplanes/centroids are deterministic (seeded splitmix), so results
are reproducible across runs and parallelism levels.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType

from .textops import _splitmix64


def _rand_unit(shape: tuple[int, ...], seed: int) -> np.ndarray:
    """Deterministic pseudo-gaussian matrix via splitmix64 + Box-Muller."""
    n = int(np.prod(shape))
    u1 = (_splitmix64(np.arange(n, dtype=np.uint64) + np.uint64(seed)) >> np.uint64(11)
          ).astype(np.float64) / float(1 << 53)
    u2 = (_splitmix64(np.arange(n, dtype=np.uint64) + np.uint64(seed + 1_000_003)) >> np.uint64(11)
          ).astype(np.float64) / float(1 << 53)
    g = np.sqrt(-2.0 * np.log(np.clip(u1, 1e-300, None))) * np.cos(2 * np.pi * u2)
    return g.reshape(shape)


def cosine_col(vec_col: str, query: list[float]):
    """Cosine similarity Column vs a literal query vector — pure
    built-ins (whole-stage codegen, no Python)."""
    q = [float(x) for x in query]
    qnorm = float(np.sqrt(sum(x * x for x in q)))
    qlit = F.array(*[F.lit(x) for x in q])
    # cast up front: otherwise zip_with multiplies in float32 and the
    # result drifts ~1e-9 from a float64 reference
    vec = F.col(vec_col).cast("array<double>")
    dot = F.aggregate(F.zip_with(vec, qlit, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = F.sqrt(F.aggregate(F.transform(vec, lambda a: a * a),
                              F.lit(0.0), lambda acc, v: acc + v))
    return dot / (norm * F.lit(qnorm))


def brute_topk(df: DataFrame, query: list[float], k: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k: narrow scan + TakeOrdered (per-partition
    top-k then driver merge — no shuffle).  Deterministic tie-break on
    id."""
    return (df.withColumn("cosine", cosine_col(vec_col, query))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


def with_lsh_bucket(df: DataFrame, dim: int, nbits: int = 12, seed: int = 42,
                    vec_col: str = "embedding", out: str = "bucket") -> DataFrame:
    """Sign-bit bucket id from ``nbits`` random hyperplanes (narrow
    pandas UDF, one matmul per Arrow batch)."""
    planes = _rand_unit((nbits, dim), seed)

    @F.pandas_udf(LongType())
    def _bucket(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy())  # (batch, dim)
        signs = (m @ planes.T) >= 0  # (batch, nbits)
        return pd.Series((signs.astype(np.uint64)
                          << np.arange(nbits, dtype=np.uint64)[None, :]).sum(axis=1).astype(np.int64))

    return df.withColumn(out, _bucket(F.col(vec_col)))


def _probe_buckets(qbucket: int, nbits: int, multiprobe: int) -> list[int]:
    buckets = {qbucket}
    if multiprobe >= 1:
        for i in range(nbits):
            buckets.add(qbucket ^ (1 << i))
    if multiprobe >= 2:
        for i in range(nbits):
            for j in range(i + 1, nbits):
                buckets.add(qbucket ^ (1 << i) ^ (1 << j))
    return sorted(buckets)


def lsh_bucket_topk(df: DataFrame, query: list[float], k: int = 10, nbits: int = 12,
                    multiprobe: int = 1, seed: int = 42, vec_col: str = "embedding",
                    id_col: str = "vec_id", bucket_col: str = "bucket") -> DataFrame:
    """Approximate cosine top-k: probe the query's hyperplane bucket
    (+- ``multiprobe`` bit flips), exact refine inside.

    When ``bucket_col`` already exists on ``df`` (the stored-index
    layout: the table is written partitioned by its precomputed bucket),
    the probe filters THAT column — a literal ``IN`` that reaches the
    scan as a PartitionFilter, so only ~(1 + nbits + C(nbits,2)) /
    2^nbits of the data is read (plan-asserted in tests).  Otherwise
    the bucket is computed on the fly (one narrow Arrow pass, full
    scan) — the ad-hoc path."""
    q = np.asarray(query, dtype=np.float64)
    planes = _rand_unit((nbits, q.shape[0]), seed)
    qbucket = int(((q @ planes.T >= 0).astype(np.uint64)
                   << np.arange(nbits, dtype=np.uint64)).sum())
    probes = _probe_buckets(qbucket, nbits, multiprobe)
    bucketed = (df if bucket_col in df.columns
                else with_lsh_bucket(df, q.shape[0], nbits, seed, vec_col,
                                     out=bucket_col))
    return (bucketed.where(F.col(bucket_col).isin(probes))
            .withColumn("cosine", cosine_col(vec_col, query))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


def kmeans(x: np.ndarray, n_centroids: int = 16, iters: int = 10,
           seed: int = 42) -> np.ndarray:
    """Deterministic Lloyd's k-means on an in-memory sample (seeded
    splitmix init).  Pure numpy so oracle generators can reproduce the
    exact centroids from the same sample without a SparkSession."""
    idx = _splitmix64(np.arange(n_centroids, dtype=np.uint64) + np.uint64(seed)) % np.uint64(x.shape[0])
    cents = x[idx.astype(np.int64)].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            m = assign == c
            if np.any(m):
                cents[c] = x[m].mean(axis=0)
    return cents


def cosine_near_dup_pairs(df: DataFrame, threshold: float = 0.8, nbits: int = 12,
                          n_tables: int = 4, seed: int = 42,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS — the vector-space member
    of the dedup family (exact / MinHash / SimHash / n-gram / cosine).

    Standard multi-table hyperplane LSH: ``n_tables`` independent
    sign-bit bucketings (seeds ``seed + t``); candidate pairs share a
    bucket in >= 1 table (equi-join on (table, bucket) — never
    all-pairs).  Candidates DEDUP WHILE SLIM — (a, b) id pairs of two
    longs, before vectors attach — then the exact cosine (a NATIVE
    zip_with/aggregate expression) refines once per unique pair.  This
    inverts the engine's usual filter-before-dedup pair-operator rule
    deliberately: here the verify needs the vector payload,
    so deduping the slim ids FIRST is what keeps that payload out of
    the hot-bucket candidate stream.  Recall rises with n_tables at
    linear cost — the classical LSH recall/cost dial.  Returns
    (a, b, cosine)."""
    first = df.select(vec_col).first()
    if first is None:
        return (df.sparkSession.createDataFrame(
            [], "a long, b long, cosine double"))
    dim = len(first[0])
    # all tables' sign bits in ONE Arrow pass (one matmul per batch;
    # per-table chained UDFs would pay n_tables Python round-trips)
    all_planes = [_rand_unit((nbits, dim), seed + t) for t in range(n_tables)]
    flat_planes = np.concatenate(all_planes, axis=0)  # (n_tables*nbits, dim)

    @F.pandas_udf(ArrayType(LongType()))
    def _buckets(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy())
        signs = (m @ flat_planes.T) >= 0  # (batch, n_tables*nbits)
        s = signs.astype(np.uint64).reshape(m.shape[0], n_tables, nbits)
        vals = (s << np.arange(nbits, dtype=np.uint64)[None, None, :]).sum(axis=2)
        return pd.Series(vals.astype(np.int64).tolist())

    # candidate generation runs on SLIM keys only — (id, t, bk), three
    # longs/row — so the (t, bk) self-join shuffle never ships vector
    # payload (the old plan exploded the full _v64 n_tables x into both
    # join inputs); pairs dedup while still slim, and vectors re-attach
    # once per unique pair for the exact refine.  The vector branch
    # needs NO Python at all (cast + native norm), so the Arrow UDF
    # runs exactly once, in the keys branch — no persist needed.
    # asNondeterministic: projection collapse would otherwise inline the
    # UDF into the posexplode projection and evaluate it TWICE per scan
    # (observed as stacked ArrowEvalPython nodes); the barrier pins one
    # evaluation.  Output is in fact deterministic.
    # per-id norm once (identical double arithmetic to the per-pair
    # form); ZERO-NORM vectors are excluded up front — cosine is
    # undefined for them (they can never be near-dups), they would
    # divide by zero under ANSI mode, and, worse, they all land in the
    # same all-ones sign bucket (0 >= 0) and manufacture a hot bucket.
    # Arises for real inputs: a df-capped embedding of a doc whose
    # every token was boilerplate is the zero vector.
    vecs = (df.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("_v64"))
            .withColumn("_nrm", F.sqrt(F.aggregate(
                F.transform("_v64", lambda a: a * a),
                F.lit(0.0), lambda acc, v: acc + v)))
            .where(F.col("_nrm") > 0.0))
    keys = (vecs.select(F.col(id_col),
                        _buckets.asNondeterministic()(
                            F.col("_v64")).alias("_bks"))
            .select(id_col, F.posexplode("_bks").alias("t", "bk")))
    l = keys.alias("l")
    r = keys.alias("r")
    cand = (l.join(r, (F.col("l.t") == F.col("r.t")) & (F.col("l.bk") == F.col("r.bk"))
                   & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
            .dropDuplicates(["a", "b"]))
    va = vecs.select(F.col(id_col).alias("a"), F.col("_v64").alias("_va"),
                     F.col("_nrm").alias("_na"))
    vb = vecs.select(F.col(id_col).alias("b"), F.col("_v64").alias("_vb"),
                     F.col("_nrm").alias("_nb"))
    dot = F.aggregate(F.zip_with("_va", "_vb", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    return (cand.join(va, "a").join(vb, "b")
            .select("a", "b", (dot / (F.col("_na") * F.col("_nb"))).alias("cosine"))
            .where(F.col("cosine") >= threshold))


def train_centroids(df: DataFrame, n_centroids: int = 16, sample: int = 2048,
                    iters: int = 10, seed: int = 42, vec_col: str = "embedding") -> np.ndarray:
    """IVF coarse quantizer: k-means on a driver-side sample (the
    standard IVF recipe — training is tiny, assignment is distributed)."""
    rows = df.select(vec_col).limit(sample).collect()
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    return kmeans(x, n_centroids, iters, seed)


def with_ivf_cluster(df: DataFrame, centroids: np.ndarray,
                     vec_col: str = "embedding", out: str = "ivf_cluster") -> DataFrame:
    cents = centroids.copy()

    @F.pandas_udf(IntegerType())
    def _assign(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy())
        d = ((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return df.withColumn(out, _assign(F.col(vec_col)))


def ivf_topk(df: DataFrame, query: list[float], centroids: np.ndarray, k: int = 10,
             nprobe: int = 4, vec_col: str = "embedding", id_col: str = "vec_id",
             cluster_col: str = "ivf_cluster") -> DataFrame:
    """IVF probe: nearest ``nprobe`` centroid lists, exact refine.
    Like :func:`lsh_bucket_topk`, a table that already carries its
    ``cluster_col`` (written partitioned by it — the stored IVF index)
    is probed via a literal IN on that column: partition pruning at the
    scan, no assignment UDF on the read path."""
    q = np.asarray(query, dtype=np.float64)
    order = np.argsort(((centroids - q[None, :]) ** 2).sum(axis=1))[:nprobe]
    clustered = (df if cluster_col in df.columns
                 else with_ivf_cluster(df, centroids, vec_col, out=cluster_col))
    return (clustered.where(F.col(cluster_col).isin([int(c) for c in order]))
            .withColumn("cosine", cosine_col(vec_col, query))
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
            .limit(k))


def scalar_quantize(df: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", bits: int = 8) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column — the
    standard 4x storage/bandwidth compression step before ANN index
    build (int8 SQ as in FAISS's SQ8): each dimension maps linearly
    from its corpus [min, max] onto 0..2^bits-1,
    ``q = floor((v - min_d) / (max_d - min_d) * (2^bits - 1))``
    clamped, constant dimensions mapping to 0.

    Returns ``(id_col, i, q)`` — one row per (vector, dimension), q an
    exact integer.  The stored vectors are float32; BOTH engines must
    do the arithmetic in double (Spark coerces float operands to double
    division, DuckDB would divide in float32 and floor a different
    quotient ~3 rows per million) — so the vector is cast to
    array<double> up front, the module-wide convention (cosine_col does
    the same), and the oracle CASTs v AS DOUBLE to match.

    Scale shape: one posexplode pass + a DIM-sized min/max aggregate
    (64 rows here) broadcast back — the second pass rescans the
    (cheap) exploded projection rather than shuffling it.  At 100 TB
    the per-dim extrema would come from a sampled or sketched pass;
    the exact pass keeps the gate deterministic."""
    exploded = df.select(F.col(id_col),
                         F.posexplode(F.col(vec_col).cast("array<double>"))
                         .alias("i", "v"))
    rng = exploded.groupBy("i").agg(F.min("v").alias("_mn"),
                                    F.max("v").alias("_mx"))
    levels = float((1 << bits) - 1)
    q = F.when(F.col("_mx") == F.col("_mn"), F.lit(0)).otherwise(
        F.least(F.lit(levels), F.greatest(F.lit(0.0),
            F.floor((F.col("v") - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn")) * levels))))
    return (exploded.join(F.broadcast(rng), "i")
            .select(id_col, "i", q.cast("long").alias("q")))


def _clustered_vecs(df: DataFrame, n_centroids: int, sample: int, iters: int,
                    seed: int, vec_col: str, id_col: str):
    """Shared scaffolding for the bucketed bulk operators (semdedup,
    knn_graph): deterministic k-means centroids (the IVF recipe), then
    one Arrow pass assigning every positive-norm vector its cluster.
    Returns the PERSISTED (id, _v64, _nrm, _cl) frame — caller owns
    release."""
    cents = train_centroids(df.orderBy(id_col), n_centroids, sample,
                            iters, seed, vec_col)
    vecs = (df.select(F.col(id_col),
                      F.col(vec_col).cast("array<double>").alias("_v64"))
            .withColumn("_nrm", F.sqrt(F.aggregate(
                F.transform("_v64", lambda a: a * a),
                F.lit(0.0), lambda acc, v: acc + v)))
            .where(F.col("_nrm") > 0.0))
    return with_ivf_cluster(vecs, cents, vec_col="_v64", out="_cl").persist()


def _pair_cosine():
    return F.aggregate(F.zip_with("_va", "_vb", lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v) \
        / (F.col("_na") * F.col("_nb"))


def knn_graph(df: DataFrame, k: int = 5, n_centroids: int = 8,
              sample: int = 512, iters: int = 10, seed: int = 42,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Bulk kNN-graph construction over an embedding column: for EVERY
    vector, its k nearest same-bucket neighbors by cosine — the
    batch-mode dual of :func:`ivf_topk`'s per-query probe, and the
    precursor to graph clustering, label propagation, and kNN
    classification over a corpus.  Buckets are the IVF coarse
    quantizer; candidates are the vector's OWN list (nprobe=1 — recall
    rises by also probing adjacent lists at linear cost, the same dial
    as ivf_topk; the within-bucket graph is what SemDeDup-style
    pipelines consume).

    Returns ``(a, b, rank, cosine)``: rank 1..k by (cosine desc, id
    asc); vectors alone in their bucket emit no rows; zero-norm
    vectors are excluded (cosine undefined).

    Scale shape: one Arrow assignment pass; the quadratic candidate
    stage is bucketed by cluster (cost = sum of n_c^2, bounded by
    raising ``n_centroids``); the per-vector top-k is a bucket-local
    window whose sort operand is one vector's candidate list — never
    a global sort."""
    from pyspark.sql import Window

    from . import cache

    clustered = _clustered_vecs(df, n_centroids, sample, iters, seed,
                                vec_col, id_col)
    a = clustered.select(F.col(id_col).alias("a"), "_cl",
                         F.col("_v64").alias("_va"), F.col("_nrm").alias("_na"))
    b = clustered.select(F.col(id_col).alias("b"), "_cl",
                         F.col("_v64").alias("_vb"), F.col("_nrm").alias("_nb"))
    w = Window.partitionBy("a").orderBy(F.desc("cosine"), F.asc("b"))
    out = (a.join(b, "_cl")
           .where(F.col("a") != F.col("b"))
           .select("a", "b", _pair_cosine().alias("cosine"))
           .withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k)
           .select("a", "b", F.col("rank").cast("long").alias("rank"),
                   "cosine"))
    return cache.track(out, [clustered])


def semdedup(df: DataFrame, threshold: float = 0.9, n_centroids: int = 8,
             sample: int = 512, iters: int = 10, seed: int = 42,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-bucket the embedding space, compare
    cosines ONLY within a bucket, resolve near-dup pairs into connected
    components, keep the minimum id per component.  This is the
    embedding-space member of the keep-one dedup family
    (textops.near_dup_clusters is the token-space one).

    Returns one row per input id: ``(id_col, canon_id, keep)`` —
    ``canon_id`` the component minimum (itself for singletons and for
    zero-norm vectors, whose cosine is undefined), ``keep`` 1 for the
    canonical survivor, 0 for duplicates to drop.

    Scale shape: the coarse quantizer is the IVF recipe
    (:func:`train_centroids`: driver-side deterministic sample,
    distributed assignment); the quadratic pair stage is bucketed by
    cluster, so total pair cost is sum of n_c^2 over clusters — bounded
    by raising ``n_centroids`` until buckets fit an executor (the
    SemDeDup paper runs 50k clusters over 5B embeddings).  Each
    within-bucket pair is generated exactly once (one equi-join on the
    cluster id, ``a < b``), so there is no multi-table candidate
    dedup, and the vector payload ships once per join side.
    Components via graph.connected_components (O(log^2 n)
    star-contraction, per-round lineage truncation).  Nothing is ever
    all-pairs across buckets.
    """
    from . import cache, graph

    clustered = _clustered_vecs(df, n_centroids, sample, iters, seed,
                                vec_col, id_col)
    a = clustered.select(F.col(id_col).alias("a"), "_cl",
                         F.col("_v64").alias("_va"), F.col("_nrm").alias("_na"))
    b = clustered.select(F.col(id_col).alias("b"), "_cl",
                         F.col("_v64").alias("_vb"), F.col("_nrm").alias("_nb"))
    pairs = (a.join(b, "_cl")
             .where(F.col("a") < F.col("b"))
             .select("a", "b", _pair_cosine().alias("cosine"))
             .where(F.col("cosine") >= threshold))
    cc = graph.connected_components(pairs.select("a", "b"), "a", "b")
    canon = F.coalesce("cluster_id", F.col(id_col))
    out = (df.select(id_col)
           .join(cc.withColumnRenamed("node", id_col), id_col, "left")
           .select(id_col, canon.alias("canon_id"),
                   (canon == F.col(id_col)).cast("int").alias("keep")))
    return cache.track(out, [clustered,
                             *getattr(cc, "_geotile_persisted", [])])


def train_pq(df: DataFrame, m: int = 4, ksub: int = 8, sample: int = 512,
             iters: int = 10, seed: int = 42, vec_col: str = "embedding",
             id_col: str = "vec_id") -> np.ndarray:
    """Product-quantizer codebooks (Jegou et al. 2011, the FAISS PQ
    fine quantizer): split the vector into ``m`` contiguous subspaces
    and k-means each INDEPENDENTLY on the same deterministic
    driver-side sample as :func:`train_centroids` (sorted by id, first
    ``sample`` rows; per-block seed ``seed + b`` so blocks decorrelate)
    — training is tiny, encoding is distributed.  Returns the
    ``(m, ksub, dim//m)`` float64 codebook tensor; requires
    ``dim % m == 0``."""
    rows = df.orderBy(id_col).limit(sample).select(vec_col).collect()
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    if x.shape[1] % m:
        raise ValueError(f"dim {x.shape[1]} not divisible by m={m}")
    db = x.shape[1] // m
    return np.stack([kmeans(x[:, b * db:(b + 1) * db], ksub, iters, seed + b)
                     for b in range(m)])


def pq_codes(df: DataFrame, cents: np.ndarray, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """PQ encoding: per vector, the ``m``-entry code array (argmin
    sub-centroid per block) — a 64x storage compression of a 64-dim
    float32 column at m=4/ksub=8 (3 bits a block).  ONE narrow Arrow
    pass, all m argmins vectorized per batch over the broadcast
    codebook (m*ksub*dim/m doubles — bytes); no shuffle.  np.argmin
    ties go to the FIRST minimum, replicated by the oracle's
    first-argmin CASE chain (q35 discipline)."""
    c = cents.copy()
    m, _, db = c.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def _enc(vec: pd.Series) -> pd.Series:
        x = np.stack(vec.to_numpy()).astype(np.float64)
        codes = np.empty((x.shape[0], m), dtype=np.int64)
        for b in range(m):
            d = ((x[:, None, b * db:(b + 1) * db] - c[None, b]) ** 2).sum(axis=2)
            codes[:, b] = d.argmin(axis=1)
        return pd.Series(codes.tolist())

    return df.select(F.col(id_col),
                     _enc(F.col(vec_col)).alias("pq_codes"))


def pq_adc_topk(df: DataFrame, query: "list[float]", cents: np.ndarray,
                topk: int = 10, vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's
    squared distance to every sub-centroid is a driver-side LITERAL
    lookup table (m x ksub doubles), so scoring a vector is m array
    lookups + a FIXED left-associative sum of m doubles — bit-exact in
    any engine, no per-row Python, no shuffle until TakeOrdered.  This
    is how a 100-TB ANN serving scan works: the codes table is ~64x
    smaller than the raw vectors, the LUT broadcasts in a constant,
    and the scan is map-only.  Returns the ``topk`` rows
    ``(id, c0..c{{m-1}}, adc6)`` by (adc asc, id asc); ADC approximates
    squared L2, so smaller = nearer."""
    m, ksub, db = cents.shape
    q = np.asarray(query, dtype=np.float64)
    codes = pq_codes(df, cents, vec_col, id_col)
    luts = [[float(((q[b * db:(b + 1) * db] - cents[b, c]) ** 2).sum())
             for c in range(ksub)] for b in range(m)]
    adc = None
    for b in range(m):
        term = F.element_at(F.array(*[F.lit(v) for v in luts[b]]),
                            F.col("pq_codes")[b] + 1)
        adc = term if adc is None else adc + term
    scored = codes.select(
        F.col(id_col),
        *[F.col("pq_codes")[b].cast("long").alias(f"c{b}") for b in range(m)],
        adc.alias("_adc"))
    return (scored.orderBy(F.col("_adc").asc(), F.col(id_col).asc())
            .limit(topk)
            .select(id_col, *[f"c{b}" for b in range(m)],
                    F.round("_adc", 6).alias("adc6")))


def knn_classify(train: DataFrame, probes: DataFrame, k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 label_col: str = "label", salt_mod: int = 0) -> DataFrame:
    """kNN majority-vote classification: predict each probe vector's
    label from its k nearest TRAIN vectors by cosine — the eval
    primitive on top of the search family (q19 exact, q20/q35 ANN,
    q106 bulk graph): embedding-quality checks, label propagation,
    weak supervision all reduce to this vote.

    Probes are the SMALL side by contract (an eval set) and broadcast;
    the train corpus streams through ONE narrow pass per probe batch —
    no shuffle until the per-probe top-k (skew.salted_topn: pass
    ``salt_mod > 1`` to bound any single probe's sort at corpus scale;
    results are bit-identical either way).  Ranking and voting use the
    INTEGER picocosine ``floor(cos * 1e12)`` with an id tie-break, so
    selection and the (votes desc, label asc) majority are engine-exact
    (raw-double ordering would hinge on summation ulps — the q86 floor
    discipline applied to similarity).  Zero-norm vectors are excluded
    (cosine undefined, the knn_graph rule).  Returns
    ``(qid, pred_label, n_votes)``."""
    from . import skew

    qv = F.col(vec_col).cast("array<double>")
    qn = F.aggregate(F.transform(qv, lambda a: a * a),
                     F.lit(0.0), lambda acc, v: acc + v)
    p = (probes.select(F.col(id_col).alias("qid"), qv.alias("_qv"),
                       F.sqrt(qn).alias("_qn"))
         .where(F.col("_qn") > 0.0))
    t = (train.select(F.col(id_col).alias("tid"),
                      F.col(label_col).alias("_lb"),
                      qv.alias("_tv"), F.sqrt(qn).alias("_tn"))
         .where(F.col("_tn") > 0.0))
    dot = F.aggregate(F.zip_with(F.col("_tv"), F.col("_qv"),
                                 lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    cosf = F.floor(dot / (F.col("_tn") * F.col("_qn")) * F.lit(1.0e12)) \
        .cast("long")
    cand = (t.crossJoin(F.broadcast(p))
            .select("qid", "tid", "_lb", cosf.alias("cosf")))
    top = skew.salted_topn(cand, ["qid"],
                           [F.desc("cosf"), F.asc("tid")],
                           [F.col("tid")], k, salt_mod)
    votes = top.groupBy("qid", "_lb").agg(F.count("*").alias("nv"))
    best = (votes.groupBy("qid")
            .agg(F.max(F.struct(F.col("nv").alias("n"),
                                (-F.col("_lb")).alias("ng"))).alias("_b")))
    return best.select("qid",
                       (-F.col("_b.ng")).cast("int").alias("pred_label"),
                       F.col("_b.n").alias("n_votes"))


def kmeans_lloyd(df: DataFrame, k: int = 4, iters: int = 2,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 scale: float = 1.0e6) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column — the
    clustering iterative completing the family next to PageRank / BFS /
    connected components / Bellman-Ford (q69/q71/q61/q126), and the
    honest build step behind q35's IVF lists (which samples to the
    driver; this is what replaces it when the corpus won't sample).

    Every quantity is integer-exact so the q142 oracle can replay the
    FULL iteration unrolled: vectors quantize once to micro-units
    (``floor(x * scale)`` int64), distances are
    ``aa + cc - 2*a.c`` in int64 (|dims| <= 1e6 -> every product
    <= 1e12 and the 64-dim sums < 2^53, exact in either engine's
    arithmetic), assignment is argmin with a cluster-id tie-break
    (struct array_min), and the centroid update is exact FLOOR
    division (sum div n; DuckDB's ``floor(s/n)`` equals exact floor
    here because a non-integer quotient sits >= 1/n from any integer
    — far beyond double rounding).  Clusters are SEEDED from the k
    smallest ids (``vec_id < k``) and keep their centroid when
    emptied, so the trajectory is fully deterministic.

    Scale shape: the canonical broadcast-Lloyd — per iteration ONE
    narrow map pass scores k literal centroids (no join, no shuffle)
    and ONE partially-aggregated shuffle collapses to k x d per-dim
    sums, collected to the driver (k*d rows — contractually tiny).
    The quantized vector frame persists across the iters+1 passes.
    Returns ``(cluster, n_members, inertia, centroid_norm)`` — the
    inertia of the FINAL assignment against the final (updated)
    centroids, all BIGINT."""
    from . import cache

    a = F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.floor(x * F.lit(scale)).cast("long"))
    aa = F.aggregate(F.transform(F.col("a"), lambda x: x * x),
                     F.lit(0).cast("long"), lambda acc, v: acc + v)
    vecs = (df.select(F.col(id_col).alias("_id"), a.alias("a"))
            .withColumn("aa", aa).persist())

    cents = {int(r["_id"]): [int(v) for v in r["a"]]
             for r in vecs.where(F.col("_id") < k)
             .select("_id", "a").collect()}

    def _assign(cmap):
        structs = []
        for c in sorted(cmap):
            cv = cmap[c]
            cc = sum(x * x for x in cv)
            # one ArrayType Literal node, not d CreateArray children —
            # cuts analyzer/codegen cost ~4x on 64-dim centroids
            lit_arr = F.lit(cv).cast("array<long>")
            dot = F.aggregate(F.zip_with(F.col("a"), lit_arr,
                                         lambda x, y: x * y),
                              F.lit(0).cast("long"),
                              lambda acc, v: acc + v)
            d = (F.col("aa") + F.lit(cc).cast("long")
                 - F.lit(2).cast("long") * dot)
            structs.append(F.struct(d.alias("d"),
                                    F.lit(c).cast("long").alias("c")))
        m = F.array_min(F.array(*structs))
        return vecs.select("a", "aa", m["d"].alias("d"), m["c"].alias("c"))

    for _ in range(iters):
        sums = (_assign(cents)
                .select("c", F.posexplode("a").alias("i", "v"))
                .groupBy("c", "i")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .collect())
        upd: dict[int, list[int]] = {}
        for r in sums:
            upd.setdefault(int(r["c"]), [0] * len(next(iter(cents.values()))))
            upd[int(r["c"])][int(r["i"])] = int(r["s"]) // int(r["n"])
        for c, cv in upd.items():
            cents[c] = cv  # emptied clusters keep their old centroid

    norms = {c: sum(x * x for x in cv) for c, cv in cents.items()}
    norm_col = F.lit(None).cast("long")
    for c in sorted(norms):
        norm_col = F.when(F.col("cluster") == c,
                          F.lit(norms[c]).cast("long")).otherwise(norm_col)
    out = (_assign(cents)
           .groupBy(F.col("c").alias("cluster"))
           .agg(F.count("*").alias("n_members"),
                F.sum("d").alias("inertia"))
           .withColumn("centroid_norm", norm_col))
    return cache.track(out, [vecs])


def mutual_knn_pairs(df: DataFrame, k: int = 5, n_centroids: int = 8,
                     sample: int = 512, iters: int = 10, seed: int = 42,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Reciprocal (mutual) kNN pairs over an embedding column: the
    pairs where EACH vector is in the other's top-k — the standard
    high-precision filter on a kNN graph (mutual neighbors survive,
    hub-induced one-way edges don't), and the seed set RNN-style
    clustering and near-dup mining consume.

    Built directly on :func:`knn_graph` (same IVF bucketing, same
    rank tie rule), then one self-join of the SLIM (a, b, rank) edge
    list against its reverse — edges are k rows per vector, so the
    join operand is k*N, never N^2.

    Returns ``(a, b, rank_ab, rank_ba, cosine)`` with a < b, rank_ab
    the rank of b in a's list and vice versa."""
    from . import cache

    g = knn_graph(df, k=k, n_centroids=n_centroids, sample=sample,
                  iters=iters, seed=seed, vec_col=vec_col,
                  id_col=id_col).persist()
    x = g.select("a", "b", F.col("rank").alias("rank_ab"), "cosine")
    y = g.select(F.col("a").alias("_ya"), F.col("b").alias("_yb"),
                 F.col("rank").alias("rank_ba"))
    out = (x.join(y, (x["a"] == y["_yb"]) & (x["b"] == y["_ya"]))
           .where(F.col("a") < F.col("b"))
           .select("a", "b", "rank_ab", "rank_ba", "cosine"))
    return cache.track(out, [g])


def quantized_label_centroids(df: DataFrame, vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              label_col: str = "label",
                              bits: int = 8) -> DataFrame:
    """Per-label centroid statistics over the int8-quantized codes —
    exact-integer class geometry on top of :func:`scalar_quantize`:
    per (label, dimension) the code sum, square sum, and count, from
    which centroid and within-class variance are one division away
    (consumers compute; the gate compares the integer moments).  The
    class-separation audit a labeled embedding corpus runs before
    training a probe.

    Scale shape: the quantization pass (posexplode + broadcast
    extrema) then ONE (label, dim) partial aggregation — the output
    is labels x dims rows, never data-sized."""
    q = scalar_quantize(df, vec_col=vec_col, id_col=id_col, bits=bits)
    lab = df.select(F.col(id_col), F.col(label_col).alias("label"))
    return (q.join(lab, id_col)
            .groupBy("label", "i")
            .agg(F.count("*").alias("n"),
                 F.sum("q").alias("q_sum"),
                 F.sum(F.col("q") * F.col("q")).alias("q2_sum")))


def triplet_audit(df: DataFrame, scale: int = 1000,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  label_col: str = "label") -> DataFrame:
    """Metric-learning triplet audit over a labeled embedding table:
    for every anchor, the canonical same-label NEIGHBOR (smallest
    other id in the label) and different-label IMPOSTOR (smallest id
    among the other labels' minima) — does the metric put the
    neighbor closer?  Violations ``d(a, near) >= d(a, far)`` are the
    metric-quality number ANN recall (q176) can't see (recall says
    the index finds neighbors; this says whether label structure
    survives in the metric at all).

    Exactness: vectors quantize to integer milli-units FIRST
    (``floor(x * scale)`` per component — the q90/q229 discipline),
    so both squared distances are exact BIGINTs and the violation
    census is exact.  Emits per label: ``(label, n_triplets,
    n_violations, margin_sum)`` with margin = d2_far - d2_near.

    Scale shape: the near/far pick tables are label-sized broadcasts
    (one min aggregate each); anchors join them plus two id-keyed
    vector lookups; the distance folds are per-row array expressions
    — no pair joins anywhere."""
    from . import cache

    q = F.transform(F.col(vec_col).cast("array<double>"),
                    lambda x: F.floor(x * F.lit(float(scale)))
                    .cast("long"))
    base = (df.select(F.col(id_col).alias("vid"),
                      F.col(label_col).alias("lab"), q.alias("qv"))
            .persist())
    # same-label pick: the label's two smallest ids cover every anchor
    mins = (base.groupBy("lab")
            .agg(F.min("vid").alias("m1")))
    m2 = (base.join(mins, "lab")
          .where(F.col("vid") > F.col("m1"))
          .groupBy("lab").agg(F.min("vid").alias("m2")))
    near_pick = mins.join(m2, "lab", "left")
    # impostor pick: per label, the smallest id among OTHER labels'
    # minima (labels are a tiny dim — the cross filter is broadcast)
    other = (mins.select(F.col("lab").alias("ol"), F.col("m1").alias("om")))
    far_pick = (mins.select("lab").crossJoin(other)
                .where(F.col("lab") != F.col("ol"))
                .groupBy("lab").agg(F.min("om").alias("far_id")))
    an = (base
          .join(F.broadcast(near_pick), "lab")
          .withColumn("near_id",
                      F.when(F.col("vid") == F.col("m1"), F.col("m2"))
                      .otherwise(F.col("m1")))
          .where(F.col("near_id").isNotNull())
          .join(F.broadcast(far_pick), "lab")
          .select("vid", "lab", "qv", "near_id", "far_id"))
    nv = base.select(F.col("vid").alias("near_id"),
                     F.col("qv").alias("nqv"))
    fv = base.select(F.col("vid").alias("far_id"),
                     F.col("qv").alias("fqv"))

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda acc, v: acc + v)

    j = (an.join(F.broadcast(nv), "near_id")
         .join(F.broadcast(fv), "far_id")
         .withColumn("d2n", d2(F.col("qv"), F.col("nqv")))
         .withColumn("d2f", d2(F.col("qv"), F.col("fqv"))))
    out = (j.groupBy(F.col("lab").alias("label"))
           .agg(F.count("*").alias("n_triplets"),
                F.sum(F.when(F.col("d2n") >= F.col("d2f"), 1)
                      .otherwise(0)).cast("long").alias("n_violations"),
                F.sum(F.col("d2f") - F.col("d2n")).alias("margin_sum")))
    return cache.track(out, [base])


def cosine_prefix_col(vec_col: str, query: list[float], d: int):
    """Cosine similarity over only the FIRST ``d`` dimensions — the
    Matryoshka (MRL) truncated-embedding score: same pure-built-in
    shape as :func:`cosine_col` with the stored vector sliced and the
    query literal truncated."""
    q = [float(x) for x in query[:d]]
    qnorm = float(np.sqrt(sum(x * x for x in q)))
    qlit = F.array(*[F.lit(x) for x in q])
    vec = F.slice(F.col(vec_col).cast("array<double>"), 1, int(d))
    dot = F.aggregate(F.zip_with(vec, qlit, lambda a, b: a * b),
                      F.lit(0.0), lambda acc, v: acc + v)
    norm = F.sqrt(F.aggregate(F.transform(vec, lambda a: a * a),
                              F.lit(0.0), lambda acc, v: acc + v))
    return dot / (norm * F.lit(qnorm))


def prefix_dim_recall(df: DataFrame, queries: list, dims=(4, 8, 16, 32, 64),
                      k: int = 10, vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Matryoshka prefix-dimension recall audit: for each query, the
    exact cosine top-k using only the first ``d`` dimensions vs the
    full-dimension exact top-k, intersected by id — the measured
    answer to "how many dims can retrieval truncate before it loses
    neighbors", the dimension-axis sibling of q176's bucketing loss
    and q194's probe sweep.  The full dimension count belongs in
    ``dims`` as the recall=1.0 sanity anchor.

    Exactness: both rankings are exact double cosines of the SAME
    expression shape on both engines (the q19 discipline), ties
    broken by id; every emitted number is an integer
    (``recall_micro = n_hit * 1e6 DIV k``).

    Scale shape: each ranking is a narrow scan + TakeOrdered (no
    shuffle); the joins run on queries x k rows.  Returns
    ``(query_id, d, n_hit, recall_micro)``."""
    full_parts, pre_parts = [], []
    for qid, qv in queries:
        full_parts.append(
            brute_topk(df, qv, k=k, vec_col=vec_col, id_col=id_col)
            .select(F.lit(int(qid)).cast("long").alias("query_id"),
                    F.col(id_col)))
        for d in dims:
            top_d = (df.withColumn("c", cosine_prefix_col(vec_col, qv, d))
                     .orderBy(F.col("c").desc(), F.col(id_col).asc())
                     .limit(k)
                     .select(F.lit(int(qid)).cast("long").alias("query_id"),
                             F.lit(int(d)).cast("long").alias("d"),
                             F.col(id_col)))
            pre_parts.append(top_d)
    full = reduce(DataFrame.unionByName, full_parts)
    pre = reduce(DataFrame.unionByName, pre_parts)
    hits = (pre.join(full, ["query_id", id_col])
            .groupBy("query_id", "d").agg(F.count("*").alias("_h")))
    base = pre.select("query_id", "d").distinct()
    return (base.join(hits, ["query_id", "d"], "left")
            .withColumn("n_hit", F.coalesce("_h", F.lit(0)).cast("long"))
            .withColumn("recall_micro",
                        F.expr(f"n_hit * 1000000 DIV {int(k)}"))
            .select("query_id", "d", "n_hit", "recall_micro"))


def rbo_eval(df: DataFrame, queries: list, prefix_d: int = 8, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id"
             ) -> DataFrame:
    """Rank-biased overlap between the full-dimension and the
    ``prefix_d``-dimension exact rankings — the top-weighted ranking
    agreement measure (Webber et al.) that q288's flat recall cannot
    express: swapping rank 1 hurts far more than swapping rank 10.
    With persistence p = 1/2 every depth-d term is the exact rational
    ``overlap_d / (d * 2^(d-1))``, floored to integer micro BEFORE
    the sum — no ln, no floats, deterministic under any order.

    Also emits the first depth where the two top-d sets disagree
    (``first_div``; 0 = set-identical at every depth to k) — the
    headline number an embedding-truncation decision actually needs.

    Scale shape: two ranking window scans per query (row_number +
    filter, the TakeOrdered shape); the depth expansion runs on
    queries x k rows.  Returns ``(query_id, ov_k, rbo_sum_micro,
    first_div)``."""
    parts = []
    for qid, qv in queries:
        wq = Window.orderBy(F.col("c").desc(), F.col(id_col).asc())
        a = (df.withColumn("c", cosine_col(vec_col, qv))
             .withColumn("pos", F.row_number().over(wq))
             .where(F.col("pos") <= int(k))
             .select(F.lit(int(qid)).cast("long").alias("query_id"),
                     F.col(id_col), F.col("pos").alias("apos")))
        b = (df.withColumn("c", cosine_prefix_col(vec_col, qv, prefix_d))
             .withColumn("pos", F.row_number().over(wq))
             .where(F.col("pos") <= int(k))
             .select(F.lit(int(qid)).cast("long").alias("query_id"),
                     F.col(id_col), F.col("pos").alias("bpos")))
        parts.append(a.join(b, ["query_id", id_col], "full")
                     .select("query_id",
                             F.coalesce("apos", F.lit(99)).alias("apos"),
                             F.coalesce("bpos", F.lit(99)).alias("bpos")))
    m = reduce(DataFrame.unionByName, parts)
    depths = m.select("query_id", "apos", "bpos",
                      F.explode(F.sequence(F.lit(1), F.lit(int(k))))
                      .alias("d"))
    ov = (depths.groupBy("query_id", "d")
          .agg(F.sum(((F.col("apos") <= F.col("d"))
                      & (F.col("bpos") <= F.col("d"))).cast("long"))
               .alias("ov")))
    term = F.expr("(ov * 1000000) DIV "
                  "(d * shiftleft(CAST(1 AS BIGINT), CAST(d - 1 AS INT)))")
    return (ov.withColumn("term", term.cast("long"))
            .groupBy("query_id")
            .agg(F.max(F.when(F.col("d") == int(k), F.col("ov")))
                 .cast("long").alias("ov_k"),
                 F.sum("term").cast("long").alias("rbo_sum_micro"),
                 F.coalesce(F.min(F.when(F.col("ov") < F.col("d"),
                                         F.col("d"))), F.lit(0))
                 .cast("long").alias("first_div")))
