"""Training-data text operators over the documents table: dedup
(exact, MinHash+LSH, SimHash, n-gram Jaccard), language ID, quality
scoring, token counting, and winnowing fingerprints.

Built-in ``pyspark.sql.functions`` wherever the semantics allow (JVM
codegen, no Python); Arrow-batched pandas UDFs only for the signature
computations (MinHash/SimHash/winnowing) that SQL cannot express.

Scale notes per operator are in the docstrings — the common theme:
signatures are computed in one narrow pass, candidate generation is an
equi-join on (band, bucket) keys, and exact verification runs only on
the candidate pairs (tiny vs n^2).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

_MASK = (1 << 64) - 1
_MERSENNE = (1 << 61) - 1

# Shared tokenizer whitespace class, spelled EXPLICITLY instead of \s:
# Java regex (Spark split) and Python re.ASCII \s include \x0B but
# DuckDB's RE2 \s does not — a vertical tab in the corpus would break
# Spark-vs-oracle parity for every token-count gate.  The explicit
# class is Java's exact \s set and every oracle mirrors it literally.
WS_CLASS = r"[ \t\n\x0B\f\r]+"


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(_MASK)
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(_MASK)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(_MASK)
    return z ^ (z >> np.uint64(31))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text hash.  One shuffle on
    the 128-bit content hash; group sizes are tiny (true dup clusters),
    so no skew treatment needed."""
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (df.withColumn("_h", F.md5(F.col(text_col)))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_h", "_rn"))


def chunk_dedup(df: DataFrame, n: int = 5, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Corpus-wide chunk-level dedup (the C4/RefinedWeb *line dedup*
    family, over fixed token windows because the synth corpus has no
    newlines): split each document into non-overlapping ``n``-token
    chunks, keep only the globally-FIRST occurrence of every distinct
    chunk value (minimum ``(doc_id, idx)``, argmin via ``min`` over a
    two-field struct — lexicographic struct ordering, no arithmetic
    packing so any doc length / doc_id range is safe under ANSI mode),
    and reassemble each document from its surviving chunks.

    Returns ``(doc_id, n_chunks, n_kept, clean_text)`` — one row per
    input document; a document whose every chunk is boilerplate seen
    earlier comes back with ``n_kept = 0`` and an empty string.

    Scale shape: two shuffles, both the honest minimum for GLOBAL line
    dedup — one hash-partition on the chunk value to find each chunk's
    first occurrence (group sizes = duplication factor, tiny), one on
    doc_id to reassemble.  Everything is built-in expressions; at
    100 TB the chunk key would be ``xxhash64(chunk)`` instead of the
    string (same plan shape, 8-byte shuffle key).

    The reference has no text surface; this extends the corpus-dedup
    family (exact_dedup, verified_near_dup_pairs) to sub-document
    granularity."""
    w = F.split(F.trim(F.col(text_col)), WS_CLASS)
    nch = F.ceil(F.size(w) / F.lit(n)).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), nch - 1),
        lambda j: F.concat_ws(" ", F.slice(w, (j * n + 1).cast("int"), n)))
    base = df.select(F.col(id_col), nch.alias("n_chunks"),
                     F.posexplode(chunks).alias("idx", "chunk"))
    # global first occurrence per chunk value: struct min orders by
    # (doc_id, idx) lexicographically — no integer packing, so there is
    # no idx bound to violate and no ANSI multiply overflow
    occ = base.withColumn("_pos", F.struct(F.col(id_col).alias("d"),
                                           F.col("idx").alias("i")))
    firsts = occ.groupBy("chunk").agg(F.min("_pos").alias("_first"))
    kept = (occ.join(firsts, "chunk")
            .where(F.col("_pos") == F.col("_first")))
    kept = kept.drop("_pos", "_first")
    reassembled = (kept.groupBy(id_col)
                   .agg(F.count("*").alias("n_kept"),
                        F.array_join(
                            F.transform(
                                F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                                lambda s: s["chunk"]), " ").alias("clean_text")))
    out = (df.select(F.col(id_col), nch.alias("n_chunks"))
           .join(reassembled, id_col, "left")
           .select(id_col, "n_chunks",
                   F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
                   F.coalesce("clean_text", F.lit("")).alias("clean_text")))
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Character k-shingle 64-bit hashes for one document (numpy)."""
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if b.shape[0] < k:
        return _splitmix64(b.astype(np.uint64)) if b.shape[0] else np.array([], dtype=np.uint64)
    # rolling polynomial hash over a sliding window, fully vectorized
    base = np.uint64(1099511628211)
    powers = np.empty(k, dtype=np.uint64)
    powers[0] = 1
    with np.errstate(over="ignore"):  # wraparound mod 2^64 is the hash
        for i in range(1, k):
            powers[i] = (powers[i - 1] * base) & np.uint64(_MASK)
    windows = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    h = (windows * powers[::-1]).sum(axis=1, dtype=np.uint64)
    return np.unique(_splitmix64(h))


def minhash_signatures(df: DataFrame, text_col: str = "text", n_hashes: int = 64,
                       shingle_k: int = 5, out: str = "minhash") -> DataFrame:
    """MinHash signature per document: n_hashes permutations
    (a_i * h + b_i mod Mersenne-61) over char-k-shingle hashes.
    Narrow map (pandas UDF); signature size is n_hashes * 8 bytes."""
    seeds = _splitmix64(np.arange(2 * n_hashes, dtype=np.uint64) + np.uint64(7))
    a = (seeds[:n_hashes] % np.uint64(_MERSENNE - 1) + np.uint64(1)).astype(np.uint64)
    b = (seeds[n_hashes:] % np.uint64(_MERSENNE)).astype(np.uint64)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(text: pd.Series) -> pd.Series:
        out_rows = []
        for t in text:
            sh = _shingle_hashes(t or "", shingle_k)
            if sh.shape[0] == 0:
                out_rows.append([0] * n_hashes)
                continue
            # (n_shingles, n_hashes) permuted values -> column mins.
            # mod 2^64 arithmetic then mod M61 keeps numpy vectorized.
            vals = (sh[:, None] * a[None, :] + b[None, :]) % np.uint64(_MERSENNE)
            out_rows.append(vals.min(axis=0).astype(np.int64).tolist())
        return pd.Series(out_rows)

    return df.withColumn(out, _sig(F.col(text_col)))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      n_hashes: int = 64, bands: int = 16, shingle_k: int = 5,
                      threshold: float = 0.5) -> DataFrame:
    """Near-duplicate candidate pairs via banded LSH over MinHash
    signatures, verified by estimated Jaccard (signature agreement).

    Plan shape: signatures (narrow) -> explode to (band, bucket) keys
    -> shuffle once on the bucket key -> self-join within buckets
    (bucket sizes are tiny for honest thresholds) -> estimate Jaccard
    from full signatures -> filter.  Returns (a, b, est_jaccard) with
    a < b, deduplicated across bands."""
    rows = n_hashes // bands
    # persist: the banded frame feeds BOTH sides of the self-join;
    # without it the signature UDF executes twice (once per side)
    sigs = minhash_signatures(df, text_col, n_hashes, shingle_k).select(
        F.col(id_col), F.col("minhash")).persist()
    banded = sigs.select(
        id_col, "minhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.xxhash64(F.slice("minhash", i * rows + 1, rows)).alias("bucket"))
            for i in range(bands)])).alias("bb"))
    banded = banded.select(id_col, "minhash", "bb.band", "bb.bucket")
    l = banded.alias("l")
    r = banded.alias("r")
    est = (F.aggregate(F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v) / F.lit(float(n_hashes)))
    # estimate + threshold BEFORE the (a, b) dedup: hot buckets make the
    # raw candidate stream orders of magnitude larger than the result,
    # and the dedup is a shuffle — filter map-side first (duplicates are
    # identical rows, so dedup-after-filter returns the same set)
    pairs = (l.join(r, (F.col("l.band") == F.col("r.band"))
                    & (F.col("l.bucket") == F.col("r.bucket"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"),
                     F.col("l.minhash").alias("sig_a"), F.col("r.minhash").alias("sig_b"))
             .withColumn("est_jaccard", est)
             .where(F.col("est_jaccard") >= threshold)
             .dropDuplicates(["a", "b"]))
    out = pairs.select("a", "b", "est_jaccard")
    return _track_persisted(out, [sigs])


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------


_POLY_BASE = np.uint64(1099511628211)
# ASCII whitespace byte values (space, \t, \n, \v, \f, \r).  Byte-level
# run detection is UTF-8-safe: multibyte sequences only use bytes >=
# 0x80, so no whitespace byte can appear inside a character.  (Unlike
# the former pandas str.split this does NOT split on exotic Unicode
# spaces — a deliberate choice: the hash is SQL-replicable this way.)
_WS_BYTES = (9, 10, 11, 12, 13, 32)


def _token_hashes_flat(text: pd.Series):
    """ASCII-whitespace tokenization + per-token Horner rolling hash
    (base 1099511628211, wrapping uint64) + splitmix64, vectorized over
    ONE flat byte buffer for the whole Arrow batch — no per-token Python
    objects anywhere.  The hash pipeline is byte-identical to what the
    q17 DuckDB oracle computes per character, so signatures are
    cross-engine checkable.  Returns (token_hashes: uint64[],
    tokens_per_doc: int64[n_docs])."""
    n = len(text)
    enc = text.fillna("").str.encode("utf-8").tolist()
    doc_lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=n)
    buf = np.frombuffer(b"\n".join(enc), dtype=np.uint8) if n else np.empty(0, np.uint8)
    # doc i spans [i + sum(lens[:i]), ...+lens[i]) in the \n-joined buffer
    doc_end = np.cumsum(doc_lens) + np.arange(n, dtype=np.int64)
    ws = np.isin(buf, _WS_BYTES)
    nonws = ~ws
    tok_starts = np.flatnonzero(nonws & np.concatenate(([True], ws[:-1])))
    if tok_starts.size == 0:
        return np.empty(0, np.uint64), np.zeros(n, dtype=np.int64)
    tok_ends = np.flatnonzero(nonws & np.concatenate((ws[1:], [True]))) + 1
    lens_tok = tok_ends - tok_starts
    powers = np.empty(int(lens_tok.max()), dtype=np.uint64)
    powers[0] = 1
    with np.errstate(over="ignore"):  # wraparound mod 2^64 is the hash
        for i in range(1, powers.shape[0]):
            powers[i] = (powers[i - 1] * _POLY_BASE) & np.uint64(_MASK)
    offsets = np.cumsum(lens_tok) - lens_tok
    total = int(lens_tok.sum())
    within = np.arange(total, dtype=np.int64) - np.repeat(offsets, lens_tok)
    g = np.repeat(tok_starts, lens_tok) + within
    exp = np.repeat(tok_ends - 1, lens_tok) - g
    terms = buf[g].astype(np.uint64) * powers[exp]
    h_raw = np.add.reduceat(terms, offsets)  # wraps mod 2^64 == Horner
    hs = _splitmix64(h_raw)
    doc_of = np.searchsorted(doc_end, tok_starts, side="right")
    return hs, np.bincount(doc_of, minlength=n).astype(np.int64)


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Pure-Python replica of Spark's built-in ``xxhash64`` for ONE
    BIGINT input (validated bit-exact against the JVM implementation) —
    the ground truth the q49 DuckDB oracle and tests replicate."""
    m = (1 << 64) - 1
    p1, p2, p3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
    p4, p5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & m

    acc = (seed + p5 + 8) & m
    k1 = rotl((value & m) * p2 & m, 31) * p1 & m
    acc = (rotl(acc ^ k1, 27) * p1 + p4) & m
    acc ^= acc >> 33
    acc = acc * p2 & m
    acc ^= acc >> 29
    acc = acc * p3 & m
    acc ^= acc >> 32
    return acc - (1 << 64) if acc >= (1 << 63) else acc


def deterministic_sample(df: DataFrame, fraction: float, key_col: str = "doc_id",
                         seed: int = 0) -> DataFrame:
    """Deterministic hash sampling for training-data pipelines: keep a
    row iff xxhash64(key + seed) falls below fraction of the hash
    space.  Unlike ``df.sample``, membership is a pure function of the
    KEY — stable across runs, partitionings, cluster sizes, and
    incremental reruns (a doc's split assignment never changes when the
    corpus grows), and different seeds give independent splits.  Pure
    whole-stage codegen (Spark's built-in XXH64 — no UDF, no shuffle;
    hand-built multiply mixers are impossible natively because ANSI
    mode overflow-checks long multiplication, and shift-only mixers
    have no avalanche on small sequential keys); the unsigned
    comparison uses the sign-flip order isomorphism."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    h = F.xxhash64(F.col(key_col).cast("long") + F.lit(seed))
    ub = h.bitwiseXOR(F.lit(-(1 << 63)))  # unsigned order as signed
    cut = int(fraction * float(1 << 64))
    if cut >= (1 << 64):
        return df
    return df.where(ub < F.lit(cut - (1 << 63)))


def token_hash_udf():
    """Per-document array of 64-bit token hashes (the shared
    Horner+splitmix pipeline of :func:`_token_hashes_flat` — stable
    across executors and SQL-replicable)."""

    @F.pandas_udf(ArrayType(LongType()))
    def _th(text: pd.Series) -> pd.Series:
        hs, counts = _token_hashes_flat(text)
        ends = np.cumsum(counts)
        starts = ends - counts
        sig = hs.astype(np.int64)
        return pd.Series([sig[s:e].tolist() for s, e in zip(starts, ends)])

    return _th


def text_embedding(df: DataFrame, text_col: str = "text", dim: int = 64,
                   seed: int = 11, out: str = "embedding") -> DataFrame:
    """Deterministic hashed-token text embedding (the 'hashing trick'):
    token -> 64-bit hash (the same Horner+splitmix pipeline as
    SimHash/KMV, :func:`_token_hashes_flat`) -> seed-mixed with a
    second splitmix64 -> bucket ``h % dim`` with sign from the top bit
    -> per-doc signed counts -> L2 normalize.  Closes the
    documents -> vectors -> ANN loop: the output array<double> feeds
    :func:`geotile.simsearch.cosine_near_dup_pairs` and the top-k
    searches directly.

    Numerically EXACT across engines by construction: bucket sums are
    small integers (sums of +-1, exactly representable), the norm is
    sqrt of an integer, and each component is one IEEE division — so a
    SQL oracle replaying the same hash pipeline reproduces identical
    doubles (no order-sensitive float accumulation anywhere).  One
    narrow Arrow pass, no shuffle; at corpus scale this is a map-only
    stage ahead of the (bucketed) ANN joins."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(ArrayType(DoubleType()))
    def _emb(text: pd.Series) -> pd.Series:
        n = len(text)
        hs, per_doc = _token_hashes_flat(text)
        h2 = _splitmix64(hs + np.uint64(seed))  # uint64 add wraps silently
        idx = (h2 % np.uint64(dim)).astype(np.int64)
        sign = np.where((h2 >> np.uint64(63)).astype(bool), -1.0, 1.0)
        doc_of = np.repeat(np.arange(n, dtype=np.int64), per_doc)
        vec = np.bincount(doc_of * dim + idx, weights=sign,
                          minlength=n * dim).reshape(n, dim)
        norm = np.sqrt((vec * vec).sum(axis=1))
        emb = vec / np.where(norm > 0.0, norm, 1.0)[:, None]
        return pd.Series(emb.tolist())

    # asNondeterministic: stops projection collapse from duplicating the
    # UDF when downstream plans explode/slice the vector (the output is
    # deterministic; the flag is only an optimizer barrier)
    return df.withColumn(out, _emb.asNondeterministic()(F.col(text_col)))


def text_embedding_capped(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", dim: int = 64,
                          seed: int = 11, max_df: int | None = None,
                          out: str = "embedding") -> DataFrame:
    """Document-frequency-capped hashed-token embedding — the IDF-style
    companion to :func:`text_embedding`: tokens appearing in more than
    ``max_df`` documents (site boilerplate, stopwords) are dropped
    BEFORE hashing, so ubiquitous tokens stop dominating every vector
    and near-dup cosine discriminates on the distinctive content.

    Spark-first shape: Python touches only the token-hash UDF; all of
    df-counting, the seed mix (native ``xxhash64`` — ANSI mode forbids
    hand-built multiply mixers), bucket/sign assignment, the signed
    integer sums, dense-vector assembly, and L2 normalization are
    built-in expressions/aggregations over equi-keys (100-TB shape: one
    token shuffle for df, one (doc, bucket) aggregate, one per-doc
    assemble).  Like text_embedding, components are exact integer/norm
    ratios, so a SQL oracle reproduces identical doubles.  Docs whose
    tokens are all capped away embed as the zero vector."""
    toks = df.select(F.col(id_col),
                     F.explode(token_hash_udf()(F.col(text_col))).alias("h"))
    if max_df is not None:
        dfreq = (toks.dropDuplicates([id_col, "h"])
                 .groupBy("h").agg(F.count("*").alias("_df")))
        toks = (toks.join(dfreq.where(F.col("_df") <= max_df), "h", "inner")
                .drop("_df"))
    mixed = F.xxhash64(F.col("h").bitwiseXOR(F.lit(seed)))
    # bucket on the UNSIGNED 64-bit value of the hash, matching both
    # text_embedding's uint64 % dim and the oracle's HUGEINT % dim: for
    # negative signed h the unsigned value is h + 2^64, so u % dim =
    # pmod(pmod(h, dim) + (2^64 % dim), dim).  (2^64 % dim == 0 for
    # power-of-two dims, where signed pmod already agreed.)
    w64_mod = ((1 << 64) % dim)
    idx = F.pmod(F.pmod(mixed, F.lit(dim))
                 + F.when(mixed < 0, F.lit(w64_mod)).otherwise(F.lit(0)),
                 F.lit(dim))
    feats = toks.select(
        id_col,
        idx.alias("i"),
        F.when(mixed < 0, F.lit(-1)).otherwise(F.lit(1)).alias("s"))
    comp = feats.groupBy(id_col, "i").agg(F.sum("s").alias("c"))
    maps = comp.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("i", "c"))).alias("_m"))
    dense = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                        lambda i: F.coalesce(
                            F.element_at("_m", i.cast("long")), F.lit(0)))
    norm = F.sqrt(F.aggregate(F.transform("_v", lambda v: v * v),
                              F.lit(0.0), lambda acc, v: acc + v.cast("double")))
    emb = F.when(F.col("_n") > 0.0,
                 F.transform("_v", lambda v: v.cast("double") / F.col("_n"))) \
        .otherwise(F.transform("_v", lambda v: F.lit(0.0)))
    zeros = F.array(*[F.lit(0.0)] * dim)
    return (df.join(maps, id_col, "left")
            .withColumn("_v", F.when(F.col("_m").isNotNull(), dense)
                        .otherwise(F.array(*[F.lit(0)] * dim)))
            .withColumn("_n", norm)
            .withColumn(out, F.coalesce(emb, zeros))
            .drop("_m", "_v", "_n"))


def kmv_distinct(df: DataFrame, group: str = "lang", text_col: str = "text",
                 k: int = 256) -> DataFrame:
    """KMV (k-minimum-values) distinct-token sketch per group
    (Bar-Yossef et al.): keep the k smallest distinct token hashes in
    UNSIGNED order; distinct-count estimate = (k-1) / normalized k-th
    minimum.  Deterministic (shared Horner+splitmix hash) and MERGEABLE
    — the union of two groups' min-k sets is the min-k of the union, so
    partial sketches combine associatively across partitions/days at
    corpus scale.  Returns (group, kth_hash, n_in_sketch,
    est_distinct); groups with < k distinct hashes report their exact
    count.  One narrow hash pass -> (group, hash) distinct -> per-group
    ranked top-k -> closed-form estimate."""
    ex = (df.select(F.col(group), F.explode(token_hash_udf()(F.col(text_col))).alias("h"))
          .dropDuplicates([group, "h"]))
    # unsigned hash order over signed int64: flipping the sign bit is an
    # exact order isomorphism (ub = hu - 2^63 as a signed value)
    ub = F.col("h").bitwiseXOR(F.lit(-(1 << 63)))
    w = Window.partitionBy(group).orderBy(ub.asc())
    topk = ex.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    agg = (topk.groupBy(group)
           .agg(F.max(F.when(F.col("_rn") == k, F.col("h"))).alias("kth_hash"),
                F.count("*").alias("n_in_sketch")))
    kth_ub = F.col("kth_hash").bitwiseXOR(F.lit(-(1 << 63)))
    norm = (kth_ub.cast("double") + F.lit(float(1 << 63))) / F.lit(float(1 << 64))
    est = F.when(F.col("kth_hash").isNull(), F.col("n_in_sketch").cast("double")) \
        .otherwise(F.lit(float(k - 1)) / norm)
    return agg.withColumn("est_distinct", est)


def simhash(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    """64-bit SimHash over whitespace tokens (sign of per-bit weighted
    sums of token hashes).  Narrow map, vectorized across the whole
    Arrow batch: one flat byte buffer, run-detected tokens, Horner +
    splitmix64 token hashes (deterministic across executors AND
    SQL-replicable — the q17 oracle recomputes them), per-document
    bit-majorities via ``np.add.reduceat``."""

    @F.pandas_udf(LongType())
    def _sh(text: pd.Series) -> pd.Series:
        n = len(text)
        res = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(res)
        hs, counts = _token_hashes_flat(text)
        nonempty = counts > 0
        if not nonempty.any():
            return pd.Series(res)
        ne_counts = counts[nonempty]
        ends = np.cumsum(ne_counts)
        starts = ends - ne_counts
        sig = np.empty(ne_counts.shape[0], dtype=np.uint64)
        shifts = np.arange(64, dtype=np.uint64)
        # chunk over documents so the (words, 64) bit matrix stays
        # bounded (~256 MB) regardless of Arrow batch size
        chunk_words = 500_000
        d0 = 0
        while d0 < ne_counts.shape[0]:
            d1 = int(np.searchsorted(ends, ends[d0] - ne_counts[d0] + chunk_words,
                                     side="right"))
            d1 = max(d1, d0 + 1)
            w0, w1 = starts[d0], ends[d1 - 1]
            bits = ((hs[w0:w1, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            sums = np.add.reduceat(bits, (starts[d0:d1] - w0), axis=0)
            cnts = ne_counts[d0:d1, None]
            v = (sums * 2 >= cnts).astype(np.uint64)
            sig[d0:d1] = (v << shifts[None, :]).sum(axis=1, dtype=np.uint64)
            d0 = d1
        res[nonempty] = sig.astype(np.int64)
        return pd.Series(res)

    return df.withColumn(out, _sh(F.col(text_col)))


def simhash_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming via the
    pigeonhole band trick: split 64 bits into (max_hamming + 1) bands;
    any qualifying pair collides exactly on >= 1 band -> candidate
    equi-join on (band, band_bits), then exact popcount verify."""
    nbands = max_hamming + 1
    width = 64 // nbands
    # persist: both self-join sides read the signatures; computed once
    sh = simhash(df, text_col).select(id_col, "simhash").persist()
    bands = sh.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col("simhash"), i * width)
                     .bitwiseAND(F.lit((1 << width) - 1)).alias("key"))
            for i in range(nbands)])).alias("bb"))
    bands = bands.select(id_col, "simhash", "bb.band", "bb.key")
    l = bands.alias("l")
    r = bands.alias("r")
    # popcount verify BEFORE the (a, b) dedup: hot band buckets emit
    # millions of candidates of which a sliver qualifies, and the dedup
    # shuffles its input — the xor/bit_count filter is a map-side
    # codegen expression, so run it first (duplicates are identical
    # rows; dedup-after-filter returns the same set)
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    out = (l.join(r, (F.col("l.band") == F.col("r.band")) & (F.col("l.key") == F.col("r.key"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
           .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"),
                   hamming.alias("hamming"))
           .where(F.col("hamming") <= max_hamming)
           .dropDuplicates(["a", "b"]))
    return _track_persisted(out, [sh])


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for verification / small candidate sets)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, threshold: float = 0.4) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all pairs sharing >= 1
    n-gram.  Pure built-ins: explode n-grams -> self-join on the n-gram
    -> |intersection| per pair -> Jaccard from per-doc distinct counts.
    Quadratic in cluster size — intended for verify stages and small
    corpora; at 100 TB run it only on LSH candidates."""
    # trim before split (leading/trailing whitespace would yield empty
    # tokens) and guard docs shorter than n tokens: F.sequence(0, size-n)
    # with start > stop builds a DESCENDING sequence and slice(w, 0, n)
    # throws at runtime.
    toks = (df.select(F.col(id_col),
                      F.split(F.trim(F.col(text_col)), WS_CLASS).alias("w"))
            .where(F.size("w") >= n))
    grams = toks.select(
        id_col,
        F.explode(F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)))).alias("g")).distinct()
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    l = grams.alias("l")
    r = grams.alias("r")
    inter = (l.join(r, (F.col("l.g") == F.col("r.g"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .groupBy(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_grams").alias("nb"))
    out = (inter.join(sa, "a").join(sb, "b")
           .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))))
    return out.where(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


# ---------------------------------------------------------------------------
# Language ID / quality / tokens / fingerprints
# ---------------------------------------------------------------------------

# marker words per language (n-gram heuristic, SQL-expressible)
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "de"],
    "fr": ["le", "les", "des"],
    "de": ["der", "und", "die"],
    "zh": ["de", "shi", "le"],
}


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word counts per language as columns ``score_<lang>`` plus
    ``lang_pred`` = argmax.  Pure built-ins (regexp counts) — stays in
    whole-stage codegen."""
    out = df
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out = out.withColumn(f"score_{lang}",
                             F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))))
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.coalesce(*[F.when(F.col(f"score_{l}") == best, F.lit(l)) for l in langs])
    return out.withColumn("lang_pred", pred)


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document character-distribution Shannon entropy in exact
    integer nano-bits: ``ent_nano = -sum_c floor(p_c * log2(p_c) *
    1e9)`` over the document's character histogram — the classic
    gibberish/boilerplate screen (low entropy = repeated filler, high
    = encrypted/binary junk) next to the ratio-based quality features.

    Scale shape: the per-character explode never shuffles — the
    (doc, char) groupBy partial-aggregates map-side, so the shuffle
    operand is doc x alphabet (tiny), not doc x characters.  The
    per-char terms floor to integers BEFORE the final sum, making the
    result summation-order-independent and engine-exact (a double
    entropy sum varies in the last ulp with aggregation order)."""
    n = F.length(F.col(text_col))
    chars = (df.where(n > 0)
             .select(F.col(id_col), n.alias("_n"),
                     F.explode(F.split(F.col(text_col), "")).alias("ch"))
             .where(F.col("ch") != ""))
    cnts = chars.groupBy(id_col, "_n", "ch").agg(F.count("*").alias("c"))
    p = F.col("c") / F.col("_n")
    term = F.floor(p * F.log2(p) * F.lit(1000000000.0)).cast("long")
    return (cnts.select(F.col(id_col), term.alias("_t"))
            .groupBy(id_col)
            .agg((-F.sum("_t")).alias("ent_nano"),
                 F.count("*").alias("n_distinct_chars")))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / token / punctuation / stopword features + a composite
    quality score — all built-ins, one narrow pass."""
    toks = F.split(F.trim(F.col(text_col)), WS_CLASS)
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^.,;:!?]", ""))
    stop = F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"\b(the|a|of|and|to|in)\b"), F.lit(0)))
    return (df.withColumn("n_chars", n_chars)
            .withColumn("n_tokens", n_tokens)
            .withColumn("mean_word_len", (n_chars - n_tokens + 1) / n_tokens)
            .withColumn("punct_ratio", punct / F.greatest(n_chars, F.lit(1)))
            .withColumn("stopword_ratio", stop / F.greatest(n_tokens, F.lit(1)))
            .withColumn("quality",
                        F.when((n_tokens >= 10) & (F.col("stopword_ratio") > 0.05), 1.0)
                        .otherwise(0.0)))


# PII patterns restricted to the Java-regex / RE2 COMMON SUBSET (ASCII
# classes, non-capturing groups, \b ASCII word boundary) so the exact
# oracle can replay them verbatim (q101)
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing pass (the pre-training hygiene step every web
    corpus gets): count and redact email addresses and IPv4 literals,
    returning ``(id_col, n_emails, n_ipv4, redacted)`` with emails
    replaced by ``<EMAIL>`` and IPs by ``<IP>``.

    Map-only: two native regexp_count + a regexp_replace chain, zero
    Python, zero shuffle — at 100 TB this fuses into whatever scan
    feeds it.  Patterns stay inside the Java/RE2 common subset so the
    DuckDB oracle replays them character for character (emails first,
    then IPs, so an IP inside a redacted email is counted once)."""
    return df.select(
        F.col(id_col),
        F.regexp_count(F.col(text_col), F.lit(PII_EMAIL_RE)).cast("long")
        .alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>"),
            F.lit(PII_IPV4_RE)).cast("long").alias("n_ipv4"),
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>"),
            PII_IPV4_RE, "<IP>").alias("redacted"))


def token_count(df: DataFrame, text_col: str = "text", out: str = "n_tokens") -> DataFrame:
    """Whitespace + BPE-ish subword estimate: whitespace tokens plus an
    extra token per 6 chars of long words (a cheap, deterministic proxy
    for BPE splits) — built-ins only."""
    words = F.split(F.trim(F.col(text_col)), WS_CLASS)
    extra = F.aggregate(
        F.transform(words, lambda w: F.floor(F.length(w) / F.lit(6))),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return df.withColumn(out, F.size(words) + extra)


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        k: int = 7, window: int = 4, out: str = "fingerprints") -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    k-gram rolling hashes, minimum per sliding window, deduplicated.
    The standard local fingerprinting guarantee: any shared substring
    of length >= k + window - 1 yields a shared fingerprint."""

    @F.pandas_udf(ArrayType(LongType()))
    def _fp(text: pd.Series) -> pd.Series:
        res = []
        for t in text:
            # winnowing needs positional order, so the rolling hash is
            # computed here without the unique() that _shingle_hashes does
            b = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8)
            if b.shape[0] < k + window - 1:
                res.append([])
                continue
            base = np.uint64(1099511628211)
            powers = np.empty(k, dtype=np.uint64)
            powers[0] = 1
            with np.errstate(over="ignore"):  # wraparound mod 2^64 is the hash
                for i in range(1, k):
                    powers[i] = (powers[i - 1] * base) & np.uint64(_MASK)
            win = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
            h = _splitmix64((win * powers[::-1]).sum(axis=1, dtype=np.uint64))
            mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
            res.append(np.unique(mins).astype(np.int64).tolist())
        return pd.Series(res)

    # asNondeterministic: see text_embedding — stops downstream explodes
    # from double-evaluating the fingerprint UDF
    return df.withColumn(out, _fp.asNondeterministic()(F.col(text_col)))


def winnow_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 k: int = 7, window: int = 4, min_shared: int = 3,
                 max_df: int = 16) -> DataFrame:
    """Document-overlap pairs from winnowing fingerprints, with a
    HOT-FINGERPRINT FREQUENCY CAP: fingerprints occurring in more than
    ``max_df`` documents are dropped before the pair join (the standard
    MOSS-deployment fix — ubiquitous boilerplate carries no dedup
    signal, and an uncapped posting list makes one hot fingerprint
    quadratic at corpus scale).  Guarantee loss is explicit: substrings
    shared by > max_df documents no longer contribute to pair scores.

    Plan shape: one narrow signature pass (Arrow UDF) -> explode to
    (fp, doc) postings -> ONE shuffle on fp (the frequency window count
    and the self-join reuse the same hash partitioning) -> bounded
    per-fp pair fan-out (<= max_df^2/2) -> per-pair shared counts.
    Returns (a, b, shared_fps) with a < b and shared_fps >= min_shared.

    The postings frame is persisted (it feeds both self-join sides);
    call :func:`release` on the result after materializing it."""
    fp = winnow_fingerprints(df.select(id_col, text_col), id_col, text_col, k, window)
    ex = fp.select(id_col, F.explode("fingerprints").alias("fp"))
    # (doc, fp) is distinct by construction (np.unique per doc), so the
    # plain count over the fp partition IS the document frequency
    ex = (ex.withColumn("_df", F.count("*").over(Window.partitionBy("fp")))
          .where(F.col("_df") <= max_df).drop("_df")
          .persist())
    l = ex.alias("l")
    r = ex.alias("r")
    out = (l.join(r, (F.col("l.fp") == F.col("r.fp"))
                  & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
           .groupBy(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
           .agg(F.count("*").alias("shared_fps"))
           .where(F.col("shared_fps") >= min_shared))
    return _track_persisted(out, [ex])


from .cache import release, track as _track_persisted  # noqa: E402  (re-export)


def verified_near_dup_pairs(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 3,
                            candidate_threshold: float = 0.2,
                            jaccard_threshold: float = 0.25,
                            n_hashes: int = 64, bands: int = 16,
                            shingle_k: int = 5) -> DataFrame:
    """The canonical two-stage corpus dedup: MinHash+LSH CANDIDATE
    generation (banded bucket join — never all-pairs) followed by an
    EXACT word-n-gram Jaccard verify restricted to the candidate pairs.
    This is the composition the q18-style exact op documents as
    'verify-stage-only at 100 TB': the quadratic exact comparison runs
    on O(candidates), not O(n^2).

    Plan: signatures (narrow, persisted) -> banded candidates (one
    bucket-key shuffle) -> distinct doc n-grams (narrow + one distinct
    shuffle) -> candidates x grams equi-join on (doc, gram) -> per-pair
    intersection counts -> Jaccard filter.  Returns (a, b, jaccard)."""
    cand_full = minhash_lsh_pairs(df, id_col, text_col, n_hashes, bands, shingle_k,
                                  threshold=candidate_threshold)
    cand = cand_full.select("a", "b")
    # trim + short-doc guard: matches the DuckDB oracle's trim, and a doc
    # with < n tokens would otherwise build a descending F.sequence whose
    # slice(w, 0, n) throws (see ngram_jaccard_pairs).
    toks = (df.select(F.col(id_col),
                      F.split(F.trim(F.col(text_col)), WS_CLASS).alias("w"))
            .where(F.size("w") >= n))
    grams = toks.select(
        id_col,
        F.explode(F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)))).alias("g")) \
        .distinct().persist()
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("ng"))
    ga = grams.select(F.col(id_col).alias("a"), "g")
    gb = grams.select(F.col(id_col).alias("b2"), F.col("g").alias("gb"))
    inter = (cand.join(ga, "a")
             .join(gb, (F.col("b") == F.col("b2")) & (F.col("g") == F.col("gb")))
             .groupBy("a", "b").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col(id_col).alias("a"), F.col("ng").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("ng").alias("nb"))
    out = (inter.join(sa, "a").join(sb, "b")
           .withColumn("jaccard",
                       F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
           .where(F.col("jaccard") >= jaccard_threshold)
           .select("a", "b", "jaccard"))
    return _track_persisted(
        out, [grams, *getattr(cand_full, "_geotile_persisted", [])])


def near_dup_clusters(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", **pair_kwargs) -> DataFrame:
    """Pairs -> clusters: the keep-one-per-cluster step of corpus dedup.

    Runs :func:`verified_near_dup_pairs` (banded LSH candidates + exact
    n-gram Jaccard verify), then resolves the pair graph into connected
    components (graph.connected_components) so each near-dup cluster
    gets one deterministic canonical survivor (minimum doc id).

    Returns one row per document that appears in >= 1 verified pair:
    ``(doc_id, cluster_id, n_docs, keep)`` where ``n_docs`` is the
    cluster size and ``keep`` is 1 for the canonical doc, 0 for the
    duplicates to drop.  Documents in no pair are implicit singletons
    (their "cluster" is themselves) and are not emitted — at corpus
    scale the emitted set is exactly the dedup decision list, tiny
    relative to the corpus.
    """
    from . import graph

    pairs = verified_near_dup_pairs(df, id_col=id_col, text_col=text_col,
                                    **pair_kwargs)
    cc = graph.connected_components(pairs.select("a", "b"), "a", "b")
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("n_docs"))
    out = (cc.join(sizes, "cluster_id")
           .select(F.col("node").alias(id_col), "cluster_id", "n_docs",
                   (F.col("node") == F.col("cluster_id")).cast("int").alias("keep")))
    return _track_persisted(
        out, [*getattr(cc, "_geotile_persisted", []),
              *getattr(pairs, "_geotile_persisted", [])])


def bm25_topk(df: DataFrame, terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BM25 keyword retrieval: score every document against a small
    term set and return the top-k.  Lucene-style non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``, classic (k1+1) numerator.

    Determinism for the cross-engine gate: each (doc, term)
    contribution is one double expression evaluated identically in
    Spark and DuckDB, scaled to integer nano-units BEFORE the per-doc
    sum — the aggregate is order-independent, so partition order can
    never move the score.  avgdl never materializes: the length norm
    uses ``(dl * N) / sum_dl`` with exact integer numerator.

    Scale shape: tokens are filtered to the query terms BEFORE the
    (doc, term) shuffle (the explode emits only matching tokens); the
    per-term document frequencies are a tiny broadcast; the final
    top-k is a TakeOrdered, never a global sort.  All built-ins, no
    Python."""
    toks = df.select(F.col(id_col),
                     F.split(F.trim(F.col(text_col)), WS_CLASS).alias("w"))
    dl = toks.select(id_col, F.size("w").cast("long").alias("dl"), "w")
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    tf = (dl.select(F.col(id_col), "dl", F.explode("w").alias("t"))
          .where(F.col("t").isin(list(terms)))
          .groupBy(id_col, "t", "dl").agg(F.count("*").alias("tf")))
    dft = tf.groupBy("t").agg(F.count("*").alias("df_t"))
    scored = tf.join(F.broadcast(dft), "t").crossJoin(F.broadcast(stats))
    idf = F.log(F.lit(1.0) +
                (F.col("n_docs") - F.col("df_t") + F.lit(0.5)) / (F.col("df_t") + F.lit(0.5)))
    norm = (F.lit(1.0) - F.lit(b) +
            F.lit(b) * (F.col("dl") * F.col("n_docs")) / F.col("sum_dl"))
    contrib = idf * (F.col("tf") * F.lit(k1 + 1.0)) / (F.col("tf") + F.lit(k1) * norm)
    nano = F.floor(contrib * F.lit(1e9) + F.lit(0.5)).cast("long")
    per_doc = (scored.withColumn("_c", nano)
               .groupBy(id_col)
               .agg(F.sum("_c").alias("score_nano"),
                    F.count("*").alias("n_terms")))
    return per_doc.orderBy(F.col("score_nano").desc(), F.col(id_col)).limit(k)


def repetition_features(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        dup2_max: float = 0.5, dup3_max: float = 0.35,
                        topw_max: float = 0.25) -> DataFrame:
    """Within-document repetition metrics (the Gopher/RefinedWeb
    quality-filter family): duplicate word-bigram and -trigram
    fractions (1 - distinct/total) and top-word fraction (count of the
    most frequent word / total words), each floored to integer
    nano-units (single int/int division — cross-engine exact), plus a
    ``keep`` flag applying the thresholds.

    One narrow pass per doc: every metric is an expression over the
    token array (aggregate/transform/array_distinct) — no explode, no
    shuffle, no Python.  At 100 TB this is a map-only stage."""
    w = F.split(F.trim(F.col(text_col)), WS_CLASS)

    def dup_frac_nano(n: int):
        grams = F.when(F.size(w) >= n, F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)))) \
            .otherwise(F.array().cast("array<string>"))
        total = F.size(grams)
        distinct = F.size(F.array_distinct(grams))
        frac = (total - distinct) / F.greatest(total, F.lit(1))
        return F.floor(frac * F.lit(1e9) + F.lit(0.5)).cast("long")

    # top-word count without a shuffle: sort the token array, then the
    # longest run of equal adjacent tokens is the max multiplicity
    sorted_w = F.array_sort(w)
    run = F.aggregate(
        sorted_w,
        F.struct(F.lit("").alias("prev"), F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(acc["best"],
                       F.when(x == acc["prev"], acc["run"] + 1)
                       .otherwise(F.lit(1).cast("long"))).alias("best")),
        lambda acc: acc["best"])
    topw = F.floor((run / F.greatest(F.size(w), F.lit(1))) * F.lit(1e9) + F.lit(0.5)) \
        .cast("long")

    out = df.select(
        F.col(id_col),
        F.size(w).cast("long").alias("n_words"),
        dup_frac_nano(2).alias("dup2_nano"),
        dup_frac_nano(3).alias("dup3_nano"),
        topw.alias("topw_nano"))
    keep = ((F.col("dup2_nano") <= int(dup2_max * 1e9)) &
            (F.col("dup3_nano") <= int(dup3_max * 1e9)) &
            (F.col("topw_nano") <= int(topw_max * 1e9))).cast("int")
    return out.withColumn("keep", keep)


def source_quota(df: DataFrame, quota: int = 10, group: str = "source",
                 id_col: str = "doc_id", text_col: str = "text",
                 salt_mod: int = 0) -> DataFrame:
    """Per-source curation quota (C4/RefinedWeb-style domain cap): keep
    at most ``quota`` documents per source, ranked by an exact integer
    quality score — nano-unit stopword richness minus punctuation noise
    (the same floor(x*1e9+0.5) features the q13 gate replicates), ties
    broken by doc id.  Caps boilerplate-heavy hosts so no single domain
    dominates a training mix.

    Scale shape: one narrow map pass computes the score, one hash
    shuffle on the group key, a windowed row_number keeps the top rows;
    per-group work is bounded by the host's own doc count — for a
    pathological single host pass ``salt_mod`` to pre-thin via the
    salted two-level top-N (skew.salted_topn, bit-identical results).
    Integer scoring makes the selection deterministic across engines
    and partition orders (q72 gate)."""
    from . import skew

    qf = quality_features(df, text_col)
    score = (F.floor(F.col("stopword_ratio") * F.lit(1e9) + F.lit(0.5))
             - F.floor(F.col("punct_ratio") * F.lit(1e9) + F.lit(0.5))).cast("long")
    scored = qf.withColumn("score_nano", score)
    return skew.salted_topn(
        scored, [group],
        [F.col("score_nano").desc(), F.col(id_col).asc()],
        [F.col(id_col)], quota, salt_mod=salt_mod) \
        .select(group, id_col, "score_nano", "rank")


def collocations(df: DataFrame, text_col: str = "text", min_count: int = 5,
                 k: int = 50) -> DataFrame:
    """Bigram collocation mining (word2vec-style phrase detection):
    lift(x, y) = P(xy) / (P(x) P(y)) over adjacent token pairs, emitted
    as the exact integer ``lift_nano = (c_xy * nu^2 * 1e9) DIV
    (nb * c_x * c_y)`` in DECIMAL(38,0) arithmetic — monotone in PMI
    (= log lift), but log itself would put cross-engine libm rounding
    inside the gate.  Returns the top ``k`` pairs with pair count >=
    ``min_count``, ordered (lift desc, x, y).

    Scale shape: the bigram explode is linear in corpus tokens; two
    partially-aggregated shuffles (pair counts, unigram counts); the
    unigram table is vocabulary-sized and broadcast to both join sides;
    top-k is a TakeOrdered, never a global sort.  The two corpus totals
    are scalar aggregates.  DECIMAL(38,0) headroom: nu^2 * 1e9 * c_xy
    must stay under 1e38 — beyond ~1e12 total tokens, drop the nano
    scale (micro-units) or downscale nu on both sides of the DIV."""
    toks = F.split(F.trim(F.col(text_col)), WS_CLASS)
    t = df.select(toks.alias("w"))
    uni = (t.select(F.explode("w").alias("tok"))
           .groupBy("tok").agg(F.count("*").alias("c"))
           .persist())
    nu = uni.agg(F.sum("c")).first()[0]
    pairs = (t.where(F.size("w") >= 2)
             .select(F.explode(F.expr(
                 "transform(sequence(0, size(w) - 2),"
                 " i -> struct(w[i] AS x, w[i + 1] AS y))")).alias("p"))
             .select("p.x", "p.y"))
    big = pairs.groupBy("x", "y").agg(F.count("*").alias("c_xy")).persist()
    nb = big.agg(F.sum("c_xy")).first()[0]
    lift = F.expr(
        f"CAST((CAST(c_xy AS DECIMAL(38,0)) * {nu} * {nu} * 1000000000)"
        f" DIV (CAST({nb} AS DECIMAL(38,0)) * c_x * c_y) AS BIGINT)")
    res = (big.where(F.col("c_xy") >= min_count)
           .join(F.broadcast(uni.select(F.col("tok").alias("x"),
                                        F.col("c").alias("c_x"))), "x")
           .join(F.broadcast(uni.select(F.col("tok").alias("y"),
                                        F.col("c").alias("c_y"))), "y")
           .withColumn("lift_nano", lift)
           .orderBy(F.col("lift_nano").desc(), "x", "y").limit(k)
           .select("x", "y", "c_xy", "lift_nano"))
    from . import cache
    return cache.track(res, [uni, big])


def kmv_sketch_rows(df: DataFrame, group: str = "source",
                    text_col: str = "text", k: int = 256) -> DataFrame:
    """Partial KMV sketch in its MERGEABLE row form: the k smallest
    distinct token hashes per group, one ``(group, h)`` row each (the
    same Horner+splitmix hashes as kmv_distinct, unsigned order).  This
    is the representation partial sketches ship in at corpus scale —
    per-partition / per-day sketches are just rows, and re-minning a
    union of them is exact (see kmv_merge)."""
    ex = (df.select(F.col(group),
                    F.explode(token_hash_udf()(F.col(text_col))).alias("h"))
          .dropDuplicates([group, "h"]))
    ub = F.col("h").bitwiseXOR(F.lit(-(1 << 63)))
    w = Window.partitionBy(group).orderBy(ub.asc())
    return (ex.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))


def kmv_merge(sketches: DataFrame, k: int = 256) -> DataFrame:
    """Merge partial KMV sketches (rows of ``h`` from kmv_sketch_rows)
    into one corpus-level estimate: distinct the union, re-min to the
    global k smallest, apply the same (k-1)/kth-minimum estimator as
    kmv_distinct.  EXACT merge, not approximate-on-approximate: every
    hash among the global k smallest is necessarily among its own
    group's k smallest, so the union always contains the true global
    min-k — the associativity that lets sketches combine across
    partitions, days, or clusters without touching raw data again.
    Input is at most k * n_groups rows, so the single-partition
    ranking window is a few KB by construction."""
    dh = sketches.select("h").distinct()
    ub = F.col("h").bitwiseXOR(F.lit(-(1 << 63)))
    w = Window.orderBy(ub.asc())
    topk = dh.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    agg = topk.agg(
        F.max(F.when(F.col("_rn") == k, F.col("h"))).alias("kth_hash"),
        F.count("*").alias("n_in_sketch"))
    kth_ub = F.col("kth_hash").bitwiseXOR(F.lit(-(1 << 63)))
    norm = (kth_ub.cast("double") + F.lit(float(1 << 63))) / F.lit(float(1 << 64))
    est = F.when(F.col("kth_hash").isNull(), F.col("n_in_sketch").cast("double")) \
        .otherwise(F.lit(float(k - 1)) / norm)
    return agg.withColumn("est_distinct", est)


def hll_registers(df: DataFrame, group: str = "source",
                  text_col: str = "text", p: int = 6) -> DataFrame:
    """HyperLogLog register table per group (Flajolet et al. 2007) —
    the industry-standard mergeable distinct-token sketch, in its
    SPARSE row form: ``(group, bucket, reg)`` where ``bucket`` is the
    top ``p`` hash bits and ``reg`` the max over the bucket's hashes of
    (leading zeros of the remaining ``64-p`` bits) + 1.  Buckets never
    observed are absent (reg 0 implicitly) — the form partial sketches
    ship in at corpus scale, and what Spark's own approx_count_distinct
    keeps per task.  Merging partials is an exact ``max`` per bucket
    (see q125's merged == direct proof), so per-partition / per-day
    sketches combine associatively without re-reading raw data.

    Everything is exact integers under the SQL gate: the shared
    Horner+splitmix token hash (cross-engine replicable), bucket by
    unsigned shift, and rank via the BINARY-STRING bit length
    (``conv(suffix, 10, 2)`` / DuckDB ``bin``) — no floating log2, so
    no misrounding near powers of two.  One narrow hash pass, one
    partially-aggregated (group, bucket) max — the shuffle operand
    collapses map-side to at most groups x 2^p rows per task.

    The estimate (alpha_m * m^2 / sum 2^-reg, linear counting below
    2.5m) is a driver-side closed form over the <= 2^p register rows —
    see :func:`hll_estimate`; it is pytest-pinned against a numpy
    replica rather than oracle-gated (IEEE division), while the
    registers themselves are value-exact cross-engine."""
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    sfx_bits = 64 - p
    ex = df.select(F.col(group),
                   F.explode(token_hash_udf()(F.col(text_col))).alias("h"))
    sfx = F.col("h").bitwiseAND(F.lit((1 << sfx_bits) - 1))
    blen = F.length(F.conv(sfx.cast("string"), 10, 2))
    rank = F.when(sfx == 0, F.lit(sfx_bits + 1)) \
            .otherwise(F.lit(sfx_bits + 1) - blen).cast("int")
    return (ex.select(F.col(group),
                      F.shiftrightunsigned("h", sfx_bits).alias("bucket"),
                      rank.alias("_r"))
            .groupBy(group, "bucket").agg(F.max("_r").alias("reg")))


def hll_estimate(registers, p: int = 6) -> float:
    """Closed-form HLL cardinality estimate from a sparse register
    list of (bucket, reg) pairs (python side — the register table is
    <= 2^p rows by construction, a contractually tiny collect).
    Standard small-range correction: linear counting when the raw
    estimate is below 2.5m and empty buckets exist."""
    import math

    m = 1 << p
    regs = dict(registers)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    z = sum(2.0 ** -regs.get(j, 0) for j in range(m))
    est = alpha * m * m / z
    zeros = m - len(regs)
    if est <= 2.5 * m and zeros > 0:
        return m * math.log(m / float(zeros))
    return est


def stratified_split(df: DataFrame, splits=None, group: str = "source",
                     key_col: str = "doc_id", seed: int = 0) -> DataFrame:
    """EXACT-proportion train/val/test assignment per stratum — the
    deterministic complement of :func:`deterministic_sample`: Bernoulli
    hash splits give each doc an independent coin flip (shuffle-free,
    but realized proportions wander ~1/sqrt(n) and are wrong for small
    strata), while this ranks each stratum's docs in xxhash64 order and
    cuts at integer thresholds ``n_k = n * cum_ppm_k div 10^6`` — every
    stratum gets EXACTLY floor-proportional counts, and membership is
    still a pure function of (key, seed): stable across runs and
    partitionings as long as the stratum's membership is unchanged.

    ``splits``: ordered list of (name, ppm) summing to 1,000,000.
    Returns ``df`` + a ``split`` column.  All arithmetic is integer
    (counts x ppm div 10^6 — no doubles anywhere), and ties are
    impossible (the rank orders by (hash, key) with unique keys), so
    the q130 oracle replays it exactly.

    Scale shape: one window shuffle on the stratum key (rank in hash
    order) + a broadcast of the per-stratum counts — the q72/q88
    windowed-rank discipline.  The exact-count contract is what costs
    the sort; when approximate proportions suffice, q49's map-only
    Bernoulli split is the shuffle-free path."""
    if splits is None:
        splits = [("train", 800000), ("val", 100000), ("test", 100000)]
    if sum(p for _, p in splits) != 1000000:
        raise ValueError("split ppm must sum to 1000000")
    ub = F.xxhash64(F.col(key_col).cast("long") + F.lit(seed)) \
        .bitwiseXOR(F.lit(-(1 << 63)))
    w = Window.partitionBy(group).orderBy(ub.asc(), F.col(key_col).asc())
    ranked = df.withColumn("_rn", F.row_number().over(w)) \
               .withColumn("_n", F.count("*").over(Window.partitionBy(group)))
    cum = 0
    expr = None
    for name, ppm in splits[:-1]:
        cum += ppm
        cond = F.col("_rn") <= F.expr(f"(_n * CAST({cum} AS BIGINT))"
                                      f" div 1000000")
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(splits[-1][0]))
    return ranked.withColumn("split", expr).drop("_rn", "_n")


# Kirsch-Mitzenmacher would derive k positions from two hashes via
# h1 + i*h2, but ANSI mode overflow-checks the long MULTIPLY; k
# independent xxhash64 calls over seed-XORed keys are native, wrap-free,
# and each is exactly replicable by the oracle's HUGEINT chain
_BLOOM_SEEDS = (0, 0x9E3779B9, 0x85EBCA6B, 0xC2B2AE35)


def bloom_key(text_col) -> "F.Column":
    """64-bit-safe content key: the first 15 hex chars of md5(text) as
    a BIGINT (60 bits, always positive) — md5 is byte-identical across
    engines, so the key needs no hash replica in the oracle."""
    return F.conv(F.substring(F.md5(text_col), 1, 15), 16, 10).cast("long")


def _bloom_positions(text_col, m_bits: int, k: int):
    key = bloom_key(text_col)
    return F.array(*[
        F.pmod(F.xxhash64(key.bitwiseXOR(F.lit(s))), F.lit(m_bits))
        for s in _BLOOM_SEEDS[:k]])


def bloom_build(df: DataFrame, text_col: str = "text",
                m_bits: int = 4096, k: int = 4) -> DataFrame:
    """Build a Bloom filter over document CONTENT as a ``(word_idx,
    bits)`` table of ``m_bits/64`` int64 words — the fourth canonical
    sketch next to KMV (q47), HLL (q125), and Misra-Gries (q89), and
    the classic shuffle-avoidance primitive: broadcast the words table
    to prefilter an expensive anti-join (incremental-ingest dedup
    against a historical corpus touches only bloom-positive rows; the
    guaranteed-no-false-negative property makes the skip SAFE).

    Everything is exact integer arithmetic under the SQL gate: the key
    is md5-derived (byte-identical cross-engine), positions are k
    native xxhash64 calls (seed-XORed keys, no ANSI-checked multiply),
    and the bitset is built with wrap-safe shifts + a ``bit_or``
    aggregate whose shuffle operand collapses map-side to at most
    ``m_bits/64`` rows per task — the HLL register discipline.  Like
    all Bloom filters the words table is also MERGEABLE (bit_or per
    word_idx) across partial builds."""
    if not 1 <= k <= len(_BLOOM_SEEDS):
        raise ValueError(f"k must be in [1, {len(_BLOOM_SEEDS)}]")
    rows = df.select(F.explode(_bloom_positions(F.col(text_col),
                                                m_bits, k)).alias("pos"))
    return (rows.select(
        F.shiftright("pos", 6).alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        .alias("_w"))
        .groupBy("word_idx").agg(F.bit_or("_w").alias("bits")))


def bloom_member(df: DataFrame, words: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", m_bits: int = 4096,
                 k: int = 4) -> DataFrame:
    """Probe a :func:`bloom_build` words table: returns ``(id_col,
    bloom_hit)`` with hit = 1 iff ALL k bits are set.  The words table
    (<= m_bits/64 rows) broadcasts, so the probe side never shuffles —
    a map-side k-row explode, broadcast lookup, and per-doc min."""
    ex = df.select(
        F.col(id_col),
        F.explode(_bloom_positions(F.col(text_col), m_bits, k)).alias("pos"))
    j = ex.join(F.broadcast(words),
                F.shiftright(ex["pos"], 6) == words["word_idx"], "left")
    hit_i = F.when(
        F.col("bits").isNotNull()
        & (F.expr("(bits & shiftleft(CAST(1 AS BIGINT),"
                  " CAST(pos % 64 AS INT))) != 0")),
        1).otherwise(0)
    return j.groupBy(id_col).agg(F.min(hit_i).alias("bloom_hit"))


def winsorize_doc_lengths(df: DataFrame, group_col: str = "source",
                          text_col: str = "text", id_col: str = "doc_id",
                          pct: int = 95) -> DataFrame:
    """Per-group winsorization of document token counts at the exact
    ``pct``-th percentile — the outlier-capping hygiene step applied to
    length-based features before a training mix is balanced.  The cap
    is the k-th smallest count with ``k = ceil(pct/100 * n)`` computed
    in INTEGER arithmetic (``(pct*n + 99) DIV 100``), rank by
    (count, doc_id) — fully deterministic, no interpolation, no
    doubles.

    Returns ``(id_col, group_col, n_tokens, n_capped)``.  One window
    shuffle on the group (rank + group size), a group-sized cap table
    joins back broadcast."""
    n_tok = F.size(F.split(F.trim(F.col(text_col)), WS_CLASS)).cast("long")
    base = df.select(F.col(id_col), F.col(group_col),
                     n_tok.alias("n_tokens"))
    w = Window.partitionBy(group_col).orderBy(
        F.col("n_tokens").asc(), F.col(id_col).asc())
    ranked = (base.withColumn("_rk", F.row_number().over(w))
              .withColumn("_n", F.count("*").over(
                  Window.partitionBy(group_col))))
    k = F.expr(f"({pct} * _n + 99) DIV 100")  # true integer DIV, as the oracle
    caps = (ranked.where(F.col("_rk") == k)
            .select(F.col(group_col), F.col("n_tokens").alias("_cap")))
    return (base.join(F.broadcast(caps), group_col)
            .select(id_col, group_col, "n_tokens",
                    F.least(F.col("n_tokens"), F.col("_cap")).alias("n_capped")))


def heavy_hitter_tokens(df: DataFrame, phi: float = 0.001,
                        text_col: str = "text",
                        sketch_k: int | None = None) -> DataFrame:
    """Exact corpus heavy hitters via a Misra-Gries candidate pass:
    every token whose corpus frequency exceeds ``phi`` of all token
    occurrences, with its EXACT count — ``(token, n, total)``.

    Scale shape (the sketch-then-verify discipline, cf. LSH pairs):
    stage 1 runs a Misra-Gries summary with ``k = ceil(2/phi)``
    counters PER PARTITION (mapInPandas over the token stream — O(k)
    memory, no shuffle); any token with global share > 1/k must exceed
    share 1/k in at least one partition (pigeonhole), so the union of
    per-partition candidates (<= k rows each) is a guaranteed superset
    of the true heavy hitters.  The MG tokenizer is the SAME explicit
    ``WS_CLASS`` split as the exact pass (Python str.split would use
    Unicode whitespace and could fragment a heavy token out of the
    candidate set, silently breaking the superset guarantee).  Stage 2
    counts in ONE aggregation pass: non-candidate tokens collapse into
    a NULL bucket (map-side partials are <= k+1 keys per partition), so
    the grand total and the exact candidate counts come out of the same
    tiny shuffle; the corpus total attaches as a 1-row broadcast, the
    bm25 corpus-stats pattern.  Everything stays lazy (no driver
    action); the aggregate is persisted (two readers) and released via
    ``geotile.cache.release``.  The output is exact and independent of
    partitioning even though a sketch did the pruning — which is what
    makes it gateable against a plain SQL frequency oracle."""
    import pandas as pd

    from . import cache

    k = sketch_k or max(int(np.ceil(2.0 / phi)), 8)

    def _mg(batches):
        # Vectorized Misra-Gries: per Arrow batch, tokenize with pandas
        # .str ops and collapse to (token, count) via np.unique — the
        # only Python-level loop is over the <= k surviving counters,
        # never over tokens.  The batch merge is the standard mergeable-
        # summaries step (Agarwal et al., TODS 2013): add the batch's
        # exact counts, then if more than k counters survive subtract
        # the (k+1)-th largest count from all and drop the non-positive
        # — total decrement stays <= N/(k+1), so any token with
        # partition share > 1/(k+1) still survives (the pigeonhole
        # superset guarantee the exact stage-2 verify relies on).
        counters: dict[str, int] = {}
        for pdf in batches:
            # mirror F.split(F.trim(text), WS_CLASS) exactly: trim
            # spaces only; an empty/edge split emits '' tokens
            toks = (pdf[text_col].fillna("").astype(str).str.strip(" ")
                    .str.split(WS_CLASS, regex=True).explode())
            uniq, cnt = np.unique(toks.to_numpy(dtype=object),
                                  return_counts=True)
            for t, c in zip(uniq.tolist(), cnt.tolist()):
                counters[t] = counters.get(t, 0) + c
            if len(counters) > k:
                vals = np.asarray(list(counters.values()), dtype=np.int64)
                cut = int(np.partition(vals, -(k + 1))[-(k + 1)])
                counters = {t: c - cut for t, c in counters.items()
                            if c > cut}
        yield pd.DataFrame({"token": list(counters.keys())})

    cand = (df.select(text_col).mapInPandas(_mg, "token string")
            .distinct().withColumn("_hit", F.lit(1)))
    toks = df.select(F.explode(F.split(F.trim(F.col(text_col)), WS_CLASS))
                     .alias("token"))
    grp = (toks.join(F.broadcast(cand), "token", "left")
           .groupBy(F.when(F.col("_hit").isNotNull(), F.col("token"))
                    .alias("token"))
           .agg(F.count("*").alias("n"))
           .persist())
    tot = grp.agg(F.sum("n").alias("total"))
    out = (grp.where(F.col("token").isNotNull())
           .crossJoin(F.broadcast(tot))
           .where(F.col("n") > F.col("total").cast("double") * phi))
    return cache.track(out, [grp])


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", min_count: int = 1) -> DataFrame:
    """KenLM-style corpus-LM fluency score (the CCNet/RefinedWeb
    quality signal): per document, the sum of conditional bigram
    log-probabilities under the corpus's OWN bigram model,
    ``lp = sum_i ln( B(w_i, w_i+1) / U(w_i) )`` with B the corpus
    bigram count and U the bigram-prefix count (so probabilities
    normalize exactly).  Low scores flag disfluent/gibberish text;
    unusually-high ones flag boilerplate the model has memorized.

    Returns ``(doc_id, n_bigrams, lp_micro)`` with each bigram's term
    floored to integer MICRO-nats before the per-doc sum — the sum is
    summation-order-independent (the BM25/entropy discipline).  Unlike
    the pure-integer gates, ln() itself is libm: a cross-engine 1-ulp
    disagreement flips a floor only when term*1e6 sits within ~1e-9 of
    an integer (~1e-9 per distinct bigram — the micro scale, not nano,
    keeps that expected flip count ~1e-4 at gate size; same residual
    risk class as the BM25 idf gate).

    Scale shape: the bigram explode runs twice — once into the stats
    aggregate, once into the scoring join — because it is a NARROW
    recompute (split + transform, no shuffle) and cheaper than caching
    a corpus-sized intermediate; the distinct-bigram stats table
    (persisted, released via geotile.cache) joins the prefix totals
    once, then doc scoring is one shuffle on the bigram key + one
    per-doc sum.  ``min_count`` is the 100-TB path: floor the stats
    table at that corpus count (pruning the singleton tail bounds the
    model so it broadcasts), renormalize over survivors, score docs on
    modeled bigrams only — min_count=1 (default) is the exact model
    and both variants sit under exact oracles (q94, q99)."""
    from . import cache

    w = F.split(F.trim(F.col(text_col)), WS_CLASS)
    bg = df.select(
        F.col(id_col),
        F.explode(F.when(F.size(w) >= 2, F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.struct(F.element_at(w, i + 1).alias("w1"),
                               F.element_at(w, i + 2).alias("w2"))))
            .otherwise(F.array().cast("array<struct<w1:string,w2:string>>")))
        .alias("b"))
    bg = bg.select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    stats = bg.groupBy("w1", "w2").agg(F.count("*").alias("_b"))
    if min_count > 1:
        # the 100-TB stats floor the docstring promises: pruning the
        # singleton tail (typically the vast majority of DISTINCT
        # bigrams) bounds the model table so it broadcasts, exactly
        # like KenLM/CCNet min-count pruning.  Probabilities
        # renormalize over the SURVIVING bigrams (prefix totals are
        # computed after the floor) and documents are scored on
        # modeled bigrams only — with min_count=1 this is bit-identical
        # to the exact model (pinned by test).
        stats = stats.where(F.col("_b") >= min_count)
    stats = stats.persist()
    prefix = stats.groupBy("w1").agg(F.sum("_b").alias("_u"))
    terms = (stats.join(prefix, "w1")
             .select("w1", "w2",
                     F.floor(F.log(F.col("_b").cast("double")
                                   / F.col("_u").cast("double"))
                             * F.lit(1000000.0)).cast("long").alias("_t")))
    scored = (bg.join(terms, ["w1", "w2"])
              .groupBy(id_col)
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum("_t").alias("lp_micro")))
    out = (df.select(id_col)
           .join(scored, id_col, "left")
           .select(id_col,
                   F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                   F.coalesce("lp_micro", F.lit(0)).alias("lp_micro")))
    return cache.track(out, [stats])


def token_ngrams(col, n: int):
    """Array Column of the n-token shingles of ``col``, tokenized on
    the shared explicit :data:`WS_CLASS` (the q100 cross-engine tie
    rule) — native split -> transform/slice/array_join, no Python.
    Guard: sequence(0, size-n) would run DESCENDING when size < n
    (Spark sequence semantics) and slice would then see start 0 — emit
    the empty gram set instead, matching the oracle's empty range()."""
    toks = F.split(F.trim(col), WS_CLASS)
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(df: DataFrame, bench: DataFrame, n: int = 8,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: flag training documents that share
    any token ``n``-gram with an evaluation set — the GPT-3/PaLM-style
    eval-overlap hygiene pass every web-scale training pipeline runs
    before a corpus ships (the reference engine has no text surface at
    all; this extends the dedup family with its eval-side dual).

    Both sides tokenize on the shared explicit :data:`WS_CLASS` (the
    q100 cross-engine tie rule) and form n-token shingles with native
    ``split -> transform/slice/array_join`` — no Python anywhere.

    Scale shape: the benchmark's DISTINCT gram set is BROADCAST (eval
    benchmarks are a few MB by definition, and stay broadcastable at
    any corpus scale); the corpus side is a map-only explode + broadcast
    semi-join — the corpus itself NEVER shuffles.  Only matched grams
    reach the per-doc countDistinct (contamination is rare, so that
    exchange is tiny), and the per-doc hit counts — one row per
    CONTAMINATED doc only — broadcast back onto the id spine.  If
    contamination were somehow pervasive, drop the second broadcast
    hint and let AQE pick; if the gram set ever outgrew broadcast,
    the same join becomes a Bloom-filter scan predicate.

    Returns ``(id_col, n_hits, contaminated)``: distinct shared grams
    per document and a 0/1 flag, one row per input document (clean
    docs get an explicit 0 — no NULLs, per the gate convention).
    """
    bench_grams = (bench.select(
        F.explode(token_ngrams(F.col(text_col), n)).alias("g")).distinct())
    hits = (df.select(F.col(id_col),
                      F.explode(token_ngrams(F.col(text_col), n)).alias("g"))
            .join(F.broadcast(bench_grams), "g")
            .groupBy(id_col).agg(F.count_distinct("g").alias("_nh")))
    return (df.select(id_col)
            .join(F.broadcast(hits), id_col, "left")
            .select(id_col,
                    F.coalesce("_nh", F.lit(0)).cast("long").alias("n_hits"),
                    (F.coalesce("_nh", F.lit(0)) > 0).cast("int")
                    .alias("contaminated")))


def boilerplate_ngrams(df: DataFrame, n: int = 3, df_frac: float = 0.05,
                       min_docs: int = 10, group: str = "source",
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-source boilerplate n-gram screen — the C4/CCNet-style
    template detector: a token n-gram is *boilerplate within a source*
    when it occurs in at least ``ceil(df_frac * n_docs(source))``
    distinct documents of that source (nav bars, cookie banners,
    licence footers — text repeated across a site is template, not
    content).  Sources with fewer than ``min_docs`` documents are never
    screened (too small to establish "common").  Per document, returns
    how much of it is template: ``(id_col, group, n_grams, n_boiler)``
    — total n-gram positions and positions covered by a boilerplate
    gram — one NULL-free row per input document (docs shorter than
    ``n`` tokens report 0/0).

    Scale shape: tokenization and gram forming are the same native
    ``split -> transform/slice`` chain as :func:`decontaminate` (no
    Python).  The corpus-sized gram frame shuffles twice — once
    de-duplicated per (source, gram, doc) for document frequency, once
    per (source, doc) for the totals; the BOILERPLATE set (grams above
    the df threshold — tiny by construction: high-df template strings)
    joins back by broadcast, so the corpus never shuffles a third time.
    The per-source doc counts attach as a broadcast of |sources| rows."""
    grams = df.select(F.col(group), F.col(id_col),
                      F.explode(token_ngrams(F.col(text_col), n)).alias("g"))
    nd = df.groupBy(group).agg(F.count_distinct(id_col).alias("_nd"))
    gdf = (grams.select(group, "g", id_col).distinct()
           .groupBy(group, "g").agg(F.count("*").alias("_gdf")))
    boiler = (gdf.join(F.broadcast(nd), group)
              .where((F.col("_nd") >= min_docs)
                     & (F.col("_gdf")
                        >= F.ceil(F.lit(df_frac) * F.col("_nd"))))
              .select(group, "g"))
    per_doc = grams.groupBy(group, id_col).agg(F.count("*").alias("_ng"))
    hit = (grams.join(F.broadcast(boiler), [group, "g"])
           .groupBy(group, id_col).agg(F.count("*").alias("_nb")))
    return (df.select(F.col(id_col), F.col(group))
            .join(per_doc, [group, id_col], "left")
            .join(hit, [group, id_col], "left")
            .select(id_col, group,
                    F.coalesce("_ng", F.lit(0)).cast("long").alias("n_grams"),
                    F.coalesce("_nb", F.lit(0)).cast("long").alias("n_boiler")))


def pack_sequences(df: DataFrame, ctx: int = 512, group: str = "source",
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Concat-and-chunk sequence packing — the canonical LLM-pretraining
    step: documents of a shard are concatenated in a deterministic order
    (``id_col`` ascending) and the token stream is cut into fixed
    ``ctx``-token context windows.  Per document, returns WHERE it lands:
    ``(id_col, group, n_tokens, start_tok, chunk_first, chunk_last,
    split_doc)`` — the exclusive running token offset, the first/last
    chunk index the document touches, and whether a chunk boundary cuts
    through it (the packing-loss diagnostic: fraction of docs split is
    what you tune ctx/shuffling against).  Tokens are WS_CLASS
    whitespace tokens (the engine-wide tokenizer parity rule).

    The shard is ``group`` — packing is per-source, never global: a
    single global concatenation order would serialize the corpus
    through one partition, which is exactly the anti-pattern this
    shape avoids.  Scale shape: ONE shuffle (the per-group window);
    the cumulative sum is a running aggregate inside the window pass,
    chunk indices are integer DIV expressions in whole-stage codegen.
    100-TB note: the window partitions by source, so a single
    mega-source bounds a partition — pre-split such sources into
    (source, shard_no) upstream, the semantics are per-shard anyway."""
    if ctx < 1:
        raise ValueError("need ctx >= 1")
    n_tok = F.size(F.split(F.trim(F.col(text_col)), WS_CLASS)).cast("long")
    d = df.select(F.col(group), F.col(id_col), n_tok.alias("n_tokens"))
    w = (Window.partitionBy(group).orderBy(F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn(
        "start_tok",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")))
    # integer DIV end to end: float division's rounding never touches
    # the chunk indices (and matches DuckDB's // in the oracle exactly)
    d = d.withColumn("_end", F.col("start_tok") + F.greatest(
        F.col("n_tokens") - F.lit(1), F.lit(0)))
    first = F.expr(f"start_tok DIV {int(ctx)}").cast("long")
    last = F.expr(f"_end DIV {int(ctx)}").cast("long")
    return d.select(
        id_col, group, "n_tokens", "start_tok",
        first.alias("chunk_first"),
        last.alias("chunk_last"),
        (last > first).alias("split_doc"))


def source_mixing_weights(df: DataFrame, alpha: float = 0.5,
                          group: str = "source") -> DataFrame:
    """Temperature-resampled corpus mixing weights (the multilingual /
    multi-source balancing rule of XLM-R and the LLaMA data recipe):
    source s gets sampling weight proportional to ``n_docs(s)**alpha``
    — alpha < 1 upweights small sources, alpha = 1 is natural
    frequency.  Returns one row per source: ``(group, n_docs,
    pow_micro, weight_ppm, docs_per_epoch)`` — the alpha-powered count
    in exact integer MICRO-units, the mix weight in parts-per-million,
    and the expected document draw per epoch of the mixed corpus.

    Exactness: ``alpha=0.5`` (the default and the gated path) uses
    sqrt, which IEEE 754 requires to be CORRECTLY rounded — Spark and
    DuckDB produce the identical double, so ``floor(sqrt(n) * 1e6)``
    is cross-engine exact; every downstream step is integer
    arithmetic (BIGINT DIV).  Other alphas go through pow(), which
    Java only guarantees to 1 ulp — documented last-ulp exposure, not
    gated.  Scale shape: one count aggregate (map-side partials), then
    everything operates on the |sources|-row frame; the corpus totals
    attach as a 1-row broadcast (a constant attach, not a predicate
    join)."""
    counts = df.groupBy(group).agg(F.count("*").alias("n_docs"))
    nd = F.col("n_docs").cast("double")
    powered = F.sqrt(nd) if alpha == 0.5 else F.pow(nd, F.lit(float(alpha)))
    c = counts.withColumn(
        "pow_micro", F.floor(powered * F.lit(1000000.0)).cast("long"))
    tot = c.agg(F.sum("pow_micro").alias("_tp"),
                F.sum("n_docs").alias("_tn"))
    return (c.join(F.broadcast(tot))
            .select(group, "n_docs", "pow_micro",
                    F.expr("pow_micro * 1000000 DIV _tp").alias("weight_ppm"),
                    F.expr("(pow_micro * 1000000 DIV _tp) * _tn DIV 1000000")
                    .alias("docs_per_epoch")))


def dsir_weights(df: DataFrame, target, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by ``log w(x) = log p_target(x) - log p_raw(x)`` so a
    raw web corpus can be resampled toward an in-domain seed set.
    ``target`` is a boolean Column marking the seed documents; both
    LMs are bigram models (the q94 chain), and docs are scored on the
    bigrams MODELED IN THE TARGET (base = full corpus, so every
    target bigram has a base count — no OOV smoothing needed; the
    paper's hashed-ngram trick serves the same purpose).

    Exactness: each bigram contributes
    ``floor(ln(Bt/Ut)*1e6) - floor(ln(Bb/Ub)*1e6)`` — two q94-pattern
    floored micro-nat terms, so the per-doc sum is
    order-independent.  Returns ``(doc_id, n_modeled, logw_micro)``
    with 0/0 for docs sharing no bigram with the seed (NULL-free).

    Scale shape: the bigram explode is a NARROW recompute per consumer
    (q94 discipline — split + transform, no shuffle, cheaper than
    caching a corpus-sized frame); the full-corpus stats table is the
    one persisted intermediate (feeds its prefix totals AND the
    target-vocab join); the term table is target-vocab-sized — a seed
    set's bigrams — so at 100 TB it broadcasts into the scoring join."""
    from . import cache

    w = F.split(F.trim(F.col(text_col)), WS_CLASS)
    bg = df.select(
        F.col(id_col), target.alias("_is_t"),
        F.explode(F.when(F.size(w) >= 2, F.transform(
            F.sequence(F.lit(0), F.size(w) - 2),
            lambda i: F.struct(F.element_at(w, i + 1).alias("w1"),
                               F.element_at(w, i + 2).alias("w2"))))
            .otherwise(F.array().cast("array<struct<w1:string,w2:string>>")))
        .alias("b"))
    bg = bg.select(id_col, "_is_t",
                   F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    stats_t = bg.where("_is_t").groupBy("w1", "w2").agg(F.count("*").alias("_bt"))
    stats_b = bg.groupBy("w1", "w2").agg(F.count("*").alias("_bb")).persist()
    prefix_t = stats_t.groupBy("w1").agg(F.sum("_bt").alias("_ut"))
    prefix_b = stats_b.groupBy("w1").agg(F.sum("_bb").alias("_ub"))

    def _micro(num, den):
        return F.floor(F.log(F.col(num).cast("double") / F.col(den).cast("double"))
                       * F.lit(1000000.0)).cast("long")

    terms = (stats_t.join(stats_b, ["w1", "w2"])
             .join(prefix_t, "w1").join(prefix_b, "w1")
             .select("w1", "w2",
                     (_micro("_bt", "_ut") - _micro("_bb", "_ub")).alias("_t")))
    scored = (bg.join(terms, ["w1", "w2"])
              .groupBy(id_col)
              .agg(F.count("*").alias("n_modeled"),
                   F.sum("_t").alias("logw_micro")))
    out = (df.select(id_col)
           .join(scored, id_col, "left")
           .select(id_col,
                   F.coalesce("n_modeled", F.lit(0)).alias("n_modeled"),
                   F.coalesce("logw_micro", F.lit(0)).alias("logw_micro")))
    return cache.track(out, [stats_b])


def cell_top_terms(df: DataFrame, cell_col: str = "cell",
                   text_col: str = "text", k: int = 5) -> DataFrame:
    """Per-cell characteristic terms by tf-idf — the geo x text fusion
    operator: treat each spatial cell as one "document" of the corpus,
    score every (cell, term) by tf * idf and keep the top-k terms per
    cell (what makes THIS place's pages different — the primitive
    behind regional topic maps and geo-faceted corpus exploration).

    idf is the classic ln(N_cells / df_t), floored to integer
    nano-units BEFORE the tf multiply (the q63/q94-proven cross-engine
    ln pattern: identical double in, floor snaps the last-ulp
    exposure); score = tf * idf_nano is then pure int64.  Ties break
    (score desc, tf desc, term asc) — total order, cross-engine exact.

    Scale shape: ONE corpus-token shuffle builds the (cell, term) tf
    frame (count partial-aggregates map-side, so the exchange carries
    cell x distinct-terms, not raw tokens); df_t and N_cells derive
    from that collapsed frame (second tiny aggregate); the per-cell
    top-k windows only the collapsed frame.  int64 headroom: idf_nano
    <= ln(N_cells)*1e9 (~6e10 at 1e12 cells), so tf up to ~1.5e8
    tokens-per-term-per-cell before overflow — at web scale cap tf or
    drop to DECIMAL first (ANSI mode makes any breach loud, not
    silent)."""
    from . import cache

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = df.select(F.col(cell_col).alias("cell"),
                     F.explode(F.split(F.trim(F.col(text_col)), WS_CLASS)).alias("t"))
    # tf feeds THREE consumers (score join, df_t, N_cells) — persist so
    # the corpus is tokenized and shuffled exactly once, not per branch
    tf = toks.groupBy("cell", "t").agg(F.count("*").alias("tf")).persist()
    dft = tf.groupBy("t").agg(F.count("*").alias("df_t"))
    ncells = tf.select("cell").distinct().agg(F.count("*").alias("n_cells"))
    idf_nano = F.floor(
        F.log(F.col("n_cells").cast("double") / F.col("df_t").cast("double"))
        * F.lit(1e9) + F.lit(0.5)).cast("long")
    scored = (tf.join(dft, "t").crossJoin(F.broadcast(ncells))
              .select("cell", "t", "tf", "df_t",
                      (F.col("tf") * idf_nano).alias("score_nano")))
    w = Window.partitionBy("cell").orderBy(
        F.col("score_nano").desc(), F.col("tf").desc(), F.col("t").asc())
    out = (scored.withColumn("rank", F.row_number().over(w).cast("long"))
           .where(F.col("rank") <= k)
           .select("cell", "rank", "t", "tf", "df_t", "score_nano"))
    return cache.track(out, [tf])


def source_kl_drift(df: DataFrame, group: str = "source",
                    text_col: str = "text") -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution —
    the data-mixing diagnostic (which sources are distributionally
    far from the blend they feed): KL(P_s || P_corpus) =
    sum_t (c_st/T_s) * ln((c_st * T) / (T_s * c_t)).

    Each term is ONE double expression evaluated identically in Spark
    and DuckDB (exact int64 products feed the divisions), floored to
    integer NANO-nats before the per-source sum — the aggregate is
    order-independent, so partial-aggregation order can never move the
    value (the q63/q84 exactness pattern).  Terms may be negative
    (under-represented tokens); floor is used on both engines.

    Scale shape: one corpus-token shuffle builds the (source, token)
    count frame; corpus token counts and per-source totals derive from
    that collapsed frame (map-side partials); the token-keyed re-join
    is collapsed-frame x vocab — a shuffle join of two token-sized
    frames, never the raw corpus.  int64 headroom: c_st * T overflows
    past ~3e9 tokens per (source, token) x corpus — at web scale the
    products need DECIMAL(38) first; ANSI mode makes a breach loud."""
    from . import cache

    toks = df.select(F.col(group).alias("src"),
                     F.explode(F.split(F.trim(F.col(text_col)), WS_CLASS)).alias("t"))
    # c_st feeds THREE consumers (c_t, t_s, the term join) — persist so
    # the corpus-token shuffle happens exactly once
    c_st = toks.groupBy("src", "t").agg(F.count("*").alias("c_st")).persist()
    c_t = c_st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    t_s = c_st.groupBy("src").agg(F.sum("c_st").alias("t_s"))
    tot = c_t.agg(F.sum("c_t").alias("tt"))
    term = (c_st.join(c_t, "t")
            .join(F.broadcast(t_s), "src")
            .crossJoin(F.broadcast(tot)))
    val = ((F.col("c_st").cast("double") / F.col("t_s").cast("double"))
           * F.log((F.col("c_st") * F.col("tt")).cast("double")
                   / (F.col("t_s") * F.col("c_t")).cast("double")))
    nano = F.floor(val * F.lit(1e9) + F.lit(0.5)).cast("long")
    out = (term.select("src", nano.alias("_n"))
           .groupBy("src")
           .agg(F.count("*").alias("n_terms"), F.sum("_n").alias("kl_nano"))
           .withColumnRenamed("src", group))
    return cache.track(out, [c_st])


def hist_quantiles(df: DataFrame, val_col: str = "n_chars",
                   group: str = "source", bin_w: int = 16,
                   n_bins: int = 256, qs=(50, 95, 99)) -> DataFrame:
    """MERGEABLE quantiles via a fixed-width histogram — the sketch
    class still missing next to KMV/HLL/Misra-Gries/Bloom (q47/q125/
    q89/q129): true rank sketches (t-digest, KLL) are compaction-order
    dependent and cannot sit under a cross-engine exact gate, but a
    fixed-bin histogram is deterministic, mergeable (counts add), and
    its quantile error is bounded by ONE bin width — the honest
    100-TB alternative to q88's exact per-group window percentile
    (which must SORT each group).

    ``bin = least(val div bin_w, n_bins - 1)``; quantile q%% is the
    UPPER BOUND of the smallest bin whose cumulative count reaches
    ``ceil(q * n / 100)`` — all integer arithmetic, so the q138 oracle
    replays it verbatim.  Returns ``(group, n, p{q}_ub...)``.

    Scale shape: ONE partially-aggregated shuffle collapses the corpus
    to <= groups x n_bins count rows; the cumulative window and the
    quantile argmin run on that sketch-sized frame.  Histograms from
    disjoint shards merge by adding counts — the property that lets a
    1000-executor scan emit 256-row partials, and that makes the bin
    stage (:func:`hist_bins`) a legal complete-mode STREAMING
    aggregate (q193 maintains it at ingest)."""
    cnt = hist_bins(df, val_col=val_col, group=group, bin_w=bin_w,
                    n_bins=n_bins)
    return hist_quantiles_from_bins(cnt, group=group, bin_w=bin_w, qs=qs)


def hist_bins(df: DataFrame, val_col: str = "n_chars",
              group: str = "source", bin_w: int = 16,
              n_bins: int = 256) -> DataFrame:
    """The mergeable bin-count stage of :func:`hist_quantiles` —
    aggregation-only (associative, commutative counts), so it runs
    unchanged as a complete-mode streaming aggregate with state
    bounded at groups x n_bins rows forever.  Returns
    ``(group, bin, c)``."""
    b = F.least(F.floor(F.col(val_col) / F.lit(bin_w)),
                F.lit(n_bins - 1)).cast("long")
    return (df.groupBy(F.col(group), b.alias("bin"))
            .agg(F.count("*").alias("c")))


def hist_quantiles_from_bins(cnt: DataFrame, group: str = "source",
                             bin_w: int = 16, qs=(50, 95, 99)) -> DataFrame:
    """Quantile extraction over a (group, bin, c) histogram table —
    the sketch-sized finishing pass of :func:`hist_quantiles`, shared
    by the batch (q138) and streaming-at-ingest (q193) paths so the
    two cannot drift apart."""
    wcum = (Window.partitionBy(group).orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy(group)
    cum = (cnt.withColumn("cum", F.sum("c").over(wcum))
           .withColumn("n", F.sum("c").over(wall)))
    aggs = [F.max("n").alias("n")]
    for q in qs:
        # ceil(q*n/100) in pure INTEGER arithmetic — a double divide
        # could misround the rank at petabyte-scale n
        need = F.expr(f"(n * {int(q)} + 99) div 100")
        hit = F.when(F.col("cum") >= need, F.col("bin"))
        aggs.append(((F.min(hit) + 1) * bin_w).cast("long")
                    .alias(f"p{q}_ub"))
    return cum.groupBy(group).agg(*aggs)


def canonical_url(url):
    """Canonical form of a raw URL — the crawl-side identity every
    web-scale pipeline dedups on (two fetches of one resource must
    collapse even when the link text differed; the reference engine
    keys its records on opaque strings, mapinfo.cpp key columns, and
    never normalizes — a web graft must).  Steps, all native string /
    higher-order-function expressions (zero Python, stays in codegen):

    1. scheme + host lowercased (ONLY those — query values keep case),
    2. leading ``www.`` stripped off the host,
    3. default port stripped (``:443`` for https, ``:80`` for http),
    4. fragment dropped,
    5. trailing slashes collapsed off the path (bare host -> ``/``),
    6. query split on ``&``, tracking params dropped (``utm_*``,
       ``gclid=``, ``fbclid=``), the survivors SORTED (binary order in
       both engines) and rejoined; an emptied query drops its ``?``.

    The q141 oracle replays every regexp/list step verbatim in DuckDB
    (RE2 and Java regex agree on this anchored, class-free subset;
    substr-prefix tests instead of LIKE dodge the ``_`` wildcard).
    Takes and returns a Column."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    nohost = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    bare = F.regexp_replace(hostport, r"^www\.", "")
    host = (F.when(scheme == "https", F.regexp_replace(bare, r":443$", ""))
            .when(scheme == "http", F.regexp_replace(bare, r":80$", ""))
            .otherwise(bare))
    pq = F.regexp_replace(nohost, r"#.*$", "")
    path = F.regexp_replace(F.regexp_extract(pq, r"^([^?]*)", 1), r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pq, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & (F.substring(p, 1, 4) != "utm_")
        & (F.substring(p, 1, 6) != "gclid=")
        & (F.substring(p, 1, 7) != "fbclid="))
    qstr = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qstr == "", F.lit("")).otherwise(F.concat(F.lit("?"), qstr)))


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id", min_n: int = 2) -> DataFrame:
    """Collapse a crawl frontier / fetch log to canonical URLs: per
    :func:`canonical_url` identity, how many raw rows it absorbed
    (``n_raw``), how many DISTINCT raw spellings (``n_variants``), and
    the deterministic keeper (``keep_id`` = min id — the q12/q68
    keep-one rule).  Returns groups with ``n_raw >= min_n`` (the
    dedup-actionable ones).

    Scale shape: the canonicalizer is a map-only expression, so the
    ONE shuffle is the canonical-key aggregate, partially aggregated
    map-side (count/count-distinct/min all combine); no URL list is
    ever collected.  count(DISTINCT raw) rewrites to the standard
    two-phase expand — both phases key on the canonical URL, so a
    hot canonical key costs its raw-variant count, never a sort."""
    canon = canonical_url(url_col).alias("canonical_url")
    return (df.select(canon, F.col(url_col).alias("_raw"),
                      F.col(id_col).alias("_id"))
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n_raw"),
                 F.countDistinct("_raw").alias("n_variants"),
                 F.min("_id").alias("keep_id"))
            .where(F.col("n_raw") >= min_n))


def prefix_policy(df: DataFrame, rules, url_col: str = "url") -> DataFrame:
    """Longest-prefix-match URL policy (robots.txt raw string-prefix
    semantics: a rule matches ANY url it is a character prefix of,
    deepest rule wins): classify every url by the matching rule of
    maximal prefix length, ``('default', -1, 0)`` when nothing
    matches, and count urls per (rule_id, action, matched_len) — the
    crawl allow/deny/throttle gate a frontier runs before fetch.

    ``rules`` is a contractually SMALL ``(rule_id, prefix, action)``
    sequence (policy sets are KBs — the q8/q35 literal-side contract);
    prefixes must be unique, so LPM is unambiguous and needs no
    tie rule.  Scale shape: rules compile into one literal
    Spark MAP PER DISTINCT PREFIX LENGTH, probed longest-first by
    ``try_element_at(map_L, substr(url, 1, L))`` and coalesced — the
    IP-route trick (match by length class) as pure map-side
    expressions: ZERO joins, ZERO explode, no per-row Python; the
    only exchange is the final rule-count aggregate.  At rule-set
    sizes past literal-plan comfort (~10^4) the same length-class
    substrings become an equi-join key against a broadcast rules
    table — the plan keeps its shape."""
    if not rules:
        raise ValueError("need at least one rule")
    by_len: dict[int, dict[str, tuple]] = {}
    for rid, pref, act in rules:
        by_len.setdefault(len(pref), {})[pref] = (rid, act)
    if sum(len(v) for v in by_len.values()) != len(rules):
        raise ValueError("rule prefixes must be unique")
    hits = []
    for plen in sorted(by_len, reverse=True):
        entries = []
        for pref, (rid, act) in sorted(by_len[plen].items()):
            entries.append(F.lit(pref))
            entries.append(F.struct(
                F.lit(rid).cast("long").alias("rule_id"),
                F.lit(act).alias("action"),
                F.lit(plen).cast("long").alias("matched_len")))
        hits.append(F.try_element_at(
            F.create_map(*entries), F.substring(F.col(url_col), 1, plen)))
    dflt = F.struct(F.lit(-1).cast("long").alias("rule_id"),
                    F.lit("default").alias("action"),
                    F.lit(0).cast("long").alias("matched_len"))
    return (df.select(F.coalesce(*hits, dflt).alias("_m"))
            .select("_m.rule_id", "_m.action", "_m.matched_len")
            .groupBy("rule_id", "action", "matched_len")
            .agg(F.count("*").alias("n_urls")))


def kwic(df: DataFrame, terms, window: int = 2,
         text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keyword-in-context concordance (the corpus-linguistics KWIC
    view): every occurrence of a query term with up to ``window``
    tokens of left and right context — the human-inspection surface
    behind quality audits ("show me how the corpus actually uses
    this word") and the retrieval-snippet primitive.  Tokenization is
    the engine-wide explicit ``WS_CLASS`` split (q100 gates the
    class), positions 0-based over the token array.

    Scale shape: ZERO exchanges — one map-side posexplode of the
    token array filtered by a literal term array (explode output is
    corpus-token-sized but never shuffles; Tungsten pipelines it
    straight into the filter), context via native slice/array_join on
    the SAME array (no self-join, no window function, no Python).
    Returns ``(doc_id, pos, term, left_ctx, right_ctx)``; empty
    contexts at document edges are ``''``, never NULL."""
    if not terms:
        raise ValueError("need at least one term")
    toks = F.split(F.trim(F.col(text_col)), WS_CLASS)
    term_arr = F.array(*[F.lit(t) for t in sorted(set(terms))])
    d = (df.select(F.col(id_col), toks.alias("_t"))
         .select(id_col, "_t", F.posexplode("_t").alias("_p", "term"))
         .where(F.array_contains(term_arr, F.col("term"))))
    w = F.lit(window)
    start = F.greatest(F.lit(1), F.col("_p") + 1 - w)
    left = F.array_join(
        F.slice(F.col("_t"), start, F.least(w, F.col("_p"))), " ")
    right = F.array_join(F.slice(F.col("_t"), F.col("_p") + 2, w), " ")
    return d.select(F.col(id_col), F.col("_p").cast("long").alias("pos"),
                    "term", left.alias("left_ctx"),
                    right.alias("right_ctx"))


_VARINT_STEPS = [(1 << 7, 1), (1 << 14, 2), (1 << 21, 3), (1 << 28, 4)]


def postings_compression(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Inverted-index postings compression audit: per document-
    frequency bucket (floor(log2 df) via an explicit threshold CASE —
    no float log anywhere), the exact byte cost of delta-gap + varint
    encoding the postings lists vs raw int64 postings — the
    index-layout planning question (which df band pays for
    compression, what the projected index size is) answered from the
    corpus itself.  Gap rule: first posting stores doc_id + 1 (keeps
    every encoded value >= 1), then strictly-positive deltas over the
    doc_id-sorted list; varint cost is the standard 7-bit-group CASE
    (1..5 bytes).

    Scale shape: everything keys on the token — one distinct
    (token, doc) collapse, one per-token window for the lag gaps
    (both partial-aggregate/sort on the SAME key family), one
    per-token aggregate, then the bucket rollup is a <= 21-row
    exchange.  All operands exact int64; ``savings_micro = varint *
    1e6 div raw``.  Returns ``(df_bucket, n_tokens, n_postings,
    raw_bytes, varint_bytes, savings_micro)``."""
    post = (df.select(F.explode(F.split(F.trim(F.col(text_col)),
                                        WS_CLASS)).alias("t"),
                      F.col(id_col).alias("_d"))
            .where(F.col("t") != "").distinct())
    w = Window.partitionBy("t").orderBy("_d")
    gap = F.coalesce(F.col("_d") - F.lag("_d").over(w),
                     F.col("_d") + F.lit(1))
    vb = F.lit(5)
    for bound, nb in reversed(_VARINT_STEPS):
        vb = F.when(gap < F.lit(bound), F.lit(nb)).otherwise(vb)
    tok = (post.select("t", vb.cast("long").alias("_vb"))
           .groupBy("t")
           .agg(F.count("*").alias("_df"), F.sum("_vb").alias("_b")))
    bucket = F.lit(20)
    for e in range(19, -1, -1):
        bucket = F.when(F.col("_df") < F.lit(1 << (e + 1)), F.lit(e))                   .otherwise(bucket)
    return (tok.select(bucket.cast("long").alias("df_bucket"), "_df", "_b")
            .groupBy("df_bucket")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("_df").alias("n_postings"),
                 (F.sum("_df") * F.lit(8)).alias("raw_bytes"),
                 F.sum("_b").alias("varint_bytes"))
            .withColumn("savings_micro",
                        F.expr("varint_bytes * 1000000 div raw_bytes")))


def dup_chunk_ratio(df: DataFrame, n: int = 5, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """CCNet-style duplicated-content share screen: per document, the
    exact fraction of its n-token chunks whose chunk VALUE occurs >= 2
    times anywhere in the corpus (cross-doc boilerplate AND within-doc
    repetition both count) — the filter statistic a training-data
    pipeline thresholds on BEFORE deciding to drop, where
    :func:`chunk_dedup` instead rewrites survivors.  A doc full of
    popular boilerplate scores high even when it was the FIRST to
    carry it — dup share, not keep-first.

    Scale shape: the same chunk explode as chunk_dedup, ONE
    chunk-keyed multiplicity aggregate (group sizes = duplication
    factor), one chunk-keyed join back (same key family), one per-doc
    rollup.  All exact int64; ``dup_ratio_micro = n_dup * 1e6 div
    n_chunks``.  Returns ``(doc_id, n_chunks, n_dup,
    dup_ratio_micro)``."""
    w = F.split(F.trim(F.col(text_col)), WS_CLASS)
    nch = F.ceil(F.size(w) / F.lit(n)).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), nch - 1),
        lambda j: F.concat_ws(" ", F.slice(w, (j * n + 1).cast("int"), n)))
    base = df.select(F.col(id_col), F.explode(chunks).alias("chunk"))
    mult = base.groupBy("chunk").agg(F.count("*").alias("_m"))
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (base.join(mult, "chunk")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_chunks"),
                 F.sum(F.when(F.col("_m") >= 2, one).otherwise(zero))
                 .alias("n_dup"))
            .withColumn("dup_ratio_micro",
                        F.expr("n_dup * 1000000 div n_chunks")))


def mad_outliers(df: DataFrame, x: str = "x", group: str = "source",
                 k: int = 3) -> DataFrame:
    """Robust outlier screen via median absolute deviation (the
    Hampel / robust-z rule, integer-exact form): per group the LOW
    median of x (element at sorted position (n+1) div 2 — the true
    median for odd n, the lower middle for even, so the statistic is
    an actual data value and both engines agree without interpolation
    doubles), the low median of |x - med| (MAD), and the count of
    rows with |x - med| > k * MAD — the heavy-tail screen winsorize
    (q88, mean/stddev-free) pairs with when the metric itself is
    skewed.  NOTE mad = 0 (over half the group at one value) flags
    every deviating row — the standard degenerate-MAD behavior,
    deliberately kept.

    Scale shape: every exchange keys on the group — two sort windows
    (rank for each median), two join-backs of one-row-per-group
    medians, one rollup; all operands exact int64.  Returns
    ``(group, n, med, mad, n_outliers)``."""
    gcol = F.col(group)

    def _low_median(frame: DataFrame, col: str, out: str) -> DataFrame:
        ow = Window.partitionBy(group).orderBy(F.col(col).asc())
        cw = Window.partitionBy(group)
        return (frame
                .withColumn("_rn", F.row_number().over(ow))
                .withColumn("_n", F.count("*").over(cw))
                .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
                .select(gcol, F.col(col).alias(out)))

    d = df.select(gcol, F.col(x).cast("long").alias("_x"))
    med = _low_median(d, "_x", "med")
    dd = (d.join(med, group)
          .withColumn("_adev", F.abs(F.col("_x") - F.col("med"))))
    mad = _low_median(dd, "_adev", "mad")
    one = F.lit(1).cast("long")
    zero = F.lit(0).cast("long")
    return (dd.join(mad, group)
            .groupBy(group)
            .agg(F.count("*").alias("n"),
                 F.max("med").alias("med"), F.max("mad").alias("mad"),
                 F.sum(F.when(F.col("_adev") > F.lit(k) * F.col("mad"),
                              one).otherwise(zero)).alias("n_outliers")))


def token_bursts(df: DataFrame, day_col: str = "day",
                 text_col: str = "text", factor_num: int = 3,
                 factor_den: int = 2, min_count: int = 3) -> DataFrame:
    """Bursty-token detection (Kleinberg-style trending, rate-ratio
    form): a token BURSTS on a day when its share of that day's tokens
    exceeds ``factor_num/factor_den`` times its corpus-wide share — the temporal
    drift diagnostic next to q122's per-source KL (what changed in the
    crawl TODAY; new-event / spam-campaign / template-rollout signal).

    The test is the pure integer cross-multiplication
    ``n_day * N * factor_den > factor_num * n_token * day_total`` in
    DECIMAL(38,0)
    (the q73 collocations headroom discipline — no division, no log,
    nothing for an engine to round), with ``n_day >= min_count``
    suppressing one-off noise.  Tokens are the shared explicit
    WS_CLASS split (q100 discipline), empties dropped.

    Scale shape: one token explode feeding ONE partially-aggregated
    (token, day) count — the persisted sketch everything else derives
    from: token totals re-aggregate it (vocabulary-sized exchange),
    day totals collapse to #days rows (broadcast back), the corpus
    total is their driver-side sum (#days-row collect).  Returns
    ``(day, token, n_day, n_token, day_total)``."""
    from . import cache

    toks = (df.select(F.col(day_col).alias("d"),
                      F.explode(F.split(F.trim(F.col(text_col)),
                                        WS_CLASS)).alias("t"))
            .where(F.col("t") != ""))
    td = toks.groupBy("t", "d").agg(F.count("*").alias("n_day")).persist()
    tt = td.groupBy("t").agg(F.sum("n_day").alias("n_token"))
    dd = td.groupBy("d").agg(F.sum("n_day").alias("day_total"))
    n_total = sum(r["day_total"] for r in dd.collect())
    dec = "decimal(38,0)"
    lhs = (F.col("n_day").cast(dec) * F.lit(int(n_total)).cast(dec)
           * F.lit(int(factor_den)).cast(dec))
    rhs = (F.lit(int(factor_num)).cast(dec) * F.col("n_token").cast(dec)
           * F.col("day_total").cast(dec))
    out = (td.join(tt, "t").join(F.broadcast(dd), "d")
           .where((F.col("n_day") >= min_count) & (lhs > rhs))
           .select(F.col("d").alias("day"), F.col("t").alias("token"),
                   "n_day", "n_token", "day_total"))
    return cache.track(out, [td])


def boolean_search(df: DataFrame, queries: DataFrame,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Conjunctive boolean retrieval (posting-list intersection): for
    each query — a set of terms in ``queries (query_id, term)`` —
    return the documents containing ALL of its terms, with the summed
    term frequency as a tie-signal.  The unranked complement of q63's
    BM25 (filters and candidate generation want exact AND semantics,
    not scores); the WS_CLASS tokenizer (q100 discipline).

    Scale shape: the inverted-index frame is ONE partially-aggregated
    (doc, token) shuffle; the query term set is broadcast and filters
    the postings BEFORE the (query, doc) aggregate, so the exchange
    moves only matching postings (query-vocabulary sized, never the
    corpus).  The ALL-terms rule is ``count(matched terms) = |query|``
    against a broadcast per-query cardinality — duplicate query terms
    are collapsed first so the count can't double-hit.  Returns
    ``(query_id, doc_id, tf_sum)``."""
    q = queries.select("query_id", "term").distinct()
    toks = (df.select(F.col(id_col),
                      F.explode(F.split(F.trim(F.col(text_col)),
                                        WS_CLASS)).alias("t"))
            .where(F.col("t") != ""))
    tf = toks.groupBy(id_col, "t").agg(F.count("*").alias("_tf"))
    qn = q.groupBy("query_id").agg(F.count("*").alias("_nq"))
    hits = (tf.join(F.broadcast(q), tf["t"] == q["term"])
            .groupBy("query_id", id_col)
            .agg(F.count("*").alias("_nh"), F.sum("_tf").alias("tf_sum")))
    return (hits.join(F.broadcast(qn), "query_id")
            .where(F.col("_nh") == F.col("_nq"))
            .select("query_id", id_col, "tf_sum"))


def _cm_rows(depth: int):
    return F.explode(F.array(*[F.lit(r).cast("long")
                               for r in range(depth)])).alias("r")


def _cm_bucket(tcol, rcol, width: int):
    """Shared count-min hash: md5(token '#' row) -> 15 hex chars ->
    int64 -> mod width (the q129 Bloom discipline: both engines ship
    bit-identical md5, no string-hash replica needed)."""
    h = F.md5(F.concat(tcol, F.lit("#"), rcol.cast("string")))
    return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
            % F.lit(int(width)))


def count_min(df: DataFrame, text_col: str = "text", depth: int = 4,
              width: int = 1024, min_probe: int = 20) -> DataFrame:
    """Count-min sketch over corpus tokens, probed against exact truth
    — the mergeable COUNT estimator next to the membership (Bloom,
    q129), cardinality (HLL, q125), heavy-hitter (MG, q89), sample
    (KMV, q47) and quantile (histogram, q138) sketches: ``depth``
    hash rows x ``width`` counters, point estimate = min over rows —
    never an underestimate, which the q148 gate VALUE-PROVES row by
    row (cm_est >= true_count for every probe) alongside exact
    engine parity.

    Hashes are md5-derived (``conv(substr(md5(token '#' row), 1, 15),
    16, 10) % width`` — the q129 Bloom discipline: both engines ship
    bit-identical md5, so the oracle needs no string-hash replica).
    Counters are plain sums — sketches from disjoint shards MERGE by
    adding counters, the property that makes this the 100-TB
    frequency monitor.

    Scale shape: one token explode -> ONE partially-aggregated exact
    (token, n) frame (persisted; the probe truth reads it too), then
    the sketch collapses to <= depth x width rows and BROADCASTS to
    the probe join; no corpus-sized shuffle after the first.
    Returns ``(token, true_count, cm_est)`` for tokens with
    ``true_count >= min_probe``."""
    from . import cache

    toks = (df.select(F.explode(F.split(F.trim(F.col(text_col)),
                                        WS_CLASS)).alias("t"))
            .where(F.col("t") != ""))
    tc = toks.groupBy("t").agg(F.count("*").alias("n")).persist()
    rows = _cm_rows(depth)

    hashed = (tc.select("t", "n", rows)
              .withColumn("b", _cm_bucket(F.col("t"), F.col("r"), width)))
    sketch = hashed.groupBy("r", "b").agg(F.sum("n").alias("c"))
    probes = (tc.where(F.col("n") >= min_probe)
              .select("t", F.col("n").alias("true_count"), rows)
              .withColumn("b", _cm_bucket(F.col("t"), F.col("r"), width)))
    est = (probes.join(F.broadcast(sketch), ["r", "b"])
           .groupBy("t", "true_count")
           .agg(F.min("c").alias("cm_est")))
    return cache.track(
        est.select(F.col("t").alias("token"), "true_count", "cm_est"),
        [tc])


def cm_sketch(df: DataFrame, text_col: str = "text", depth: int = 4,
              width: int = 1024) -> DataFrame:
    """Count-min COUNTER TABLE straight from the raw token stream —
    the batch/stream-SHARED definition (q148 derives the identical
    table from the exact vocabulary counts; this form runs unchanged
    on a readStream because it is one stateful count aggregate over
    <= depth x width keys).  Counts are associative and commutative,
    so on a finite stream the complete-mode table must equal the
    batch table row for row — which is exactly what the q150 oracle
    (the q148 sketch CTE) checks.  State is bounded at depth x width
    rows forever: the 100-TB frequency monitor at ingest.  Returns
    ``(r, b, c)``."""
    toks = (df.select(F.explode(F.split(F.trim(F.col(text_col)),
                                        WS_CLASS)).alias("t"))
            .where(F.col("t") != ""))
    hashed = (toks.select("t", _cm_rows(depth))
              .withColumn("b", _cm_bucket(F.col("t"), F.col("r"), width)))
    return hashed.groupBy("r", "b").agg(F.count("*").alias("c"))


def edit_verified_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", max_dist: int = 100,
                        threshold: float = 0.35) -> DataFrame:
    """Near-duplicate pairs verified by EXACT edit distance — the
    character-level verify mode next to q43's exact-Jaccard verify
    (Jaccard is order-blind set overlap; Levenshtein catches
    insertions/reorderings token sets miss, the standard second
    opinion for template-with-substitutions dedup).  Candidates come
    from the q16 banded-MinHash generator (never all-pairs); the
    verify is the NATIVE ``levenshtein`` both engines ship, so the
    q153 oracle replays it with no replica.

    Cost note (the q18 discipline): Levenshtein is O(|a| x |b|) per
    pair — verify-stage-only by design, run on the deduplicated slim
    candidate pairs with text attached once per pair.  Character
    semantics: both engines count ASCII/BMP characters identically;
    astral-plane codepoints differ (UTF-16 units vs codepoints) —
    the corpus is ASCII.  Returns ``(a, b, lev)`` with
    ``lev <= max_dist``."""
    cand = minhash_lsh_pairs(df, id_col=id_col, text_col=text_col,
                             threshold=threshold)
    ta = df.select(F.col(id_col).alias("a"), F.col(text_col).alias("_ta"))
    tb = df.select(F.col(id_col).alias("b"), F.col(text_col).alias("_tb"))
    out = (cand.select("a", "b").join(ta, "a").join(tb, "b")
           .withColumn("lev", F.levenshtein("_ta", "_tb").cast("long"))
           .where(F.col("lev") <= max_dist)
           .select("a", "b", "lev"))
    return _track_persisted(out, getattr(cand, "_geotile_persisted", []))


def feature_corr(df: DataFrame, x_col: str, y_col: str,
                 group: str = "source") -> DataFrame:
    """Per-group Pearson correlation between two INTEGER features —
    the second-moment completion of q151's OLS slope (slope says how
    y moves with x; r says how tightly).  All five sums are exact
    BIGINTs; the emitted moments ``corr_num = n*Sxy - Sx*Sy``,
    ``den_x = n*Sx2 - Sx^2``, ``den_y = n*Sy2 - Sy^2`` are the exact
    rationals (r^2 = num^2 / (den_x * den_y) — consumers compute),
    plus a floored micro-r from ONE fixed-shape double expression
    (``num * 1e6 / (sqrt(den_x) * sqrt(den_y))`` — sqrt per factor,
    the int64-safe form: den_x * den_y would overflow where the
    factors alone don't).  Degenerate groups (a constant feature,
    den = 0) are dropped.

    Scale shape: ONE partially-aggregated shuffle; five sums, no
    window, no sort.  Returns ``(group, n, corr_num, den_x, den_y,
    r_micro)``."""
    x, y = F.col(x_col), F.col(y_col)
    g = (df.groupBy(group)
         .agg(F.count("*").alias("n"),
              F.sum(x).alias("_sx"), F.sum(y).alias("_sy"),
              F.sum(x * y).alias("_sxy"),
              F.sum(x * x).alias("_sx2"), F.sum(y * y).alias("_sy2")))
    num = (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
    denx = (F.col("n") * F.col("_sx2") - F.col("_sx") * F.col("_sx"))
    deny = (F.col("n") * F.col("_sy2") - F.col("_sy") * F.col("_sy"))
    out = (g.withColumn("corr_num", num.cast("long"))
           .withColumn("den_x", denx.cast("long"))
           .withColumn("den_y", deny.cast("long"))
           .where((F.col("den_x") > 0) & (F.col("den_y") > 0))
           .withColumn("r_micro",
                       F.floor(F.col("corr_num") * F.lit(1000000)
                               / (F.sqrt(F.col("den_x"))
                                  * F.sqrt(F.col("den_y"))))
                       .cast("long")))
    return out.select(group, "n", "corr_num", "den_x", "den_y", "r_micro")


def hashed_token_counts(df: DataFrame, text_col: str = "text", dim: int = 64,
                        seed: int = 11, out: str = "counts") -> DataFrame:
    """Raw signed bucket counts of the hashing-trick embedding — the
    integer numerators :func:`text_embedding` L2-normalizes away.
    Emitting them as ``array<long>`` lets a consumer form the cosine
    from EXACT integer building blocks: ``dot = sum(c_l[i]*c_r[i])``
    and the squared norms are order-independent int64 sums, so the
    cosine is ONE double expression (int/÷(sqrt*sqrt)) that any SQL
    engine reproduces bit-for-bit — no float accumulation to drift.
    Same Horner+splitmix token pipeline and seed-mix as
    :func:`text_embedding` (a doc's counts ARE its embedding numerators
    at the same (dim, seed)).  One narrow Arrow pass, map-only."""

    @F.pandas_udf(ArrayType(LongType()))
    def _cnt(text: pd.Series) -> pd.Series:
        n = len(text)
        hs, per_doc = _token_hashes_flat(text)
        h2 = _splitmix64(hs + np.uint64(seed))
        idx = (h2 % np.uint64(dim)).astype(np.int64)
        sign = np.where((h2 >> np.uint64(63)).astype(bool), -1, 1)
        doc_of = np.repeat(np.arange(n, dtype=np.int64), per_doc)
        vec = np.bincount(doc_of * dim + idx, weights=sign,
                          minlength=n * dim).astype(np.int64).reshape(n, dim)
        return pd.Series(vec.tolist())

    return df.withColumn(out, _cnt.asNondeterministic()(F.col(text_col)))


def rrf_fuse(sparse: DataFrame, dense: DataFrame, id_col: str = "doc_id",
             k: int = 60, topk: int = 20) -> DataFrame:
    """Reciprocal-rank fusion of two rankings (the standard hybrid
    sparse+dense retrieval combiner, Cormack et al. 2009): each input
    carries (``id_col``, ``rnk`` 1-based); a document's fused score is
    the sum over lists of ``floor(1e9 / (k + rnk))`` — integer
    contributions, so the fusion is exact and order-independent.
    Documents absent from a list contribute 0 and surface with the 0
    rank sentinel (never NULL: the gate's pandas fetch must not see a
    nullable column).  Returns the fused top-``topk`` by (score desc,
    id asc).

    Scale shape: rank lists are top-N sides (bounded by N, not the
    corpus), so the outer join is a trivially small exchange; at
    cluster scale both sides broadcast."""
    s = sparse.select(F.col(id_col), F.col("rnk").alias("r_sparse"))
    d = dense.select(F.col(id_col), F.col("rnk").alias("r_dense"))
    j = s.join(d, id_col, "outer")
    contrib = (
        F.when(F.col("r_sparse").isNotNull(),
               F.expr(f"1000000000 DIV ({k} + r_sparse)")).otherwise(F.lit(0))
        + F.when(F.col("r_dense").isNotNull(),
                 F.expr(f"1000000000 DIV ({k} + r_dense)")).otherwise(F.lit(0))
    ).cast("long")
    return (j.select(F.col(id_col),
                     F.coalesce("r_sparse", F.lit(0)).cast("long")
                     .alias("r_sparse"),
                     F.coalesce("r_dense", F.lit(0)).cast("long")
                     .alias("r_dense"),
                     contrib.alias("rrf_score"))
            .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
            .limit(topk))


def phrase_search(df: DataFrame, phrases, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Positional phrase retrieval: exact multi-token phrase hits
    resolved on the positional inverted index — the IR primitive
    :func:`boolean_search` (bag-of-terms) cannot express.  Postings
    are filtered to the query phrases' term vocabulary BEFORE any
    exchange (the posexplode feeds a literal-array filter map-side, so
    only matching postings ever shuffle), then a phrase of length L
    resolves by L-1 equi-joins on ``(doc, position + offset)`` — each
    join key is exact, no windows, no Python.  Returns ``(phrase,
    doc_id, n_hits)`` for documents with at least one hit.

    Scale shape: the filtered postings table is persisted once and
    reused across phrase legs (released via geotile.cache); join keys
    (doc, pos) are near-unique so skew cannot concentrate.  For a
    FIXED literal phrase set a zero-shuffle array scan (the q159 KWIC
    pattern) is also possible; the index-join form is the one that
    generalizes to query workloads where phrases arrive as data."""
    from . import cache

    plists = [p.split() for p in phrases]
    if not plists or min(len(p) for p in plists) < 2:
        raise ValueError("phrases must each have >= 2 tokens")
    vocab = sorted({w for p in plists for w in p})
    toks = F.split(F.trim(F.col(text_col)), WS_CLASS)
    varr = F.array(*[F.lit(w) for w in vocab])
    post = (df.select(F.col(id_col), toks.alias("_t"))
            .select(id_col, F.posexplode("_t").alias("pos", "term"))
            .where(F.array_contains(varr, F.col("term")))
            .persist())
    legs = []
    for p in plists:
        cur = (post.where(F.col("term") == p[0])
               .select(F.col(id_col), F.col("pos").alias("p0")))
        for off, w in enumerate(p[1:], start=1):
            nxt = (post.where(F.col("term") == w)
                   .select(F.col(id_col), (F.col("pos") - off).alias("p0")))
            cur = cur.join(nxt, [id_col, "p0"])
        legs.append(cur.groupBy(id_col)
                    .agg(F.count("*").alias("n_hits"))
                    .select(F.lit(" ".join(p)).alias("phrase"),
                            F.col(id_col), "n_hits"))
    out = reduce(DataFrame.unionByName, legs)
    return cache.track(out, [post])


def minhash_calibration(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        candidate_threshold: float = 0.2,
                        n_hashes: int = 64, bands: int = 16,
                        shingle_k: int = 5) -> DataFrame:
    """MinHash estimator CALIBRATION audit: for every LSH candidate
    pair, the signature-estimated Jaccard next to the EXACT word-n-gram
    Jaccard on the same pair, with the signed error — the measured
    answer to "how far can the 64-hash estimate drift" that a dedup
    deployment needs before picking thresholds.  Pairs whose exact
    intersection is EMPTY are kept (COALESCE 0): an estimator's worst
    failures are precisely high-estimate/zero-overlap pairs, and an
    inner join would silently hide them.

    All outputs are exact integers: est_micro = k/n_hashes scaled by
    1e6 (1e6/64 = 15625, so the double is integral before the floor),
    jac_micro = |A∩B|*1e6 DIV |A∪B|, err_micro = est - jac.  Plan:
    the q16 candidate pipeline (banded bucket join) + the q43-style
    verify join on candidates only; never all-pairs."""
    cand_full = minhash_lsh_pairs(df, id_col, text_col, n_hashes, bands,
                                  shingle_k, threshold=candidate_threshold)
    est_micro = (F.floor(F.col("est_jaccard") * F.lit(1000000.0) + F.lit(0.5))
                 .cast("long"))
    cand = cand_full.select("a", "b", est_micro.alias("est_micro"))
    toks = (df.select(F.col(id_col),
                      F.split(F.trim(F.col(text_col)), WS_CLASS).alias("w"))
            .where(F.size("w") >= n))
    grams = toks.select(
        id_col,
        F.explode(F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)))).alias("g")) \
        .distinct().persist()
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("ng"))
    ga = grams.select(F.col(id_col).alias("a"), "g")
    gb = grams.select(F.col(id_col).alias("b2"), F.col("g").alias("gb"))
    inter = (cand.select("a", "b").join(ga, "a")
             .join(gb, (F.col("b") == F.col("b2")) & (F.col("g") == F.col("gb")))
             .groupBy("a", "b").agg(F.count("*").alias("_i")))
    sa = sizes.select(F.col(id_col).alias("a"), F.col("ng").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("ng").alias("nb"))
    out = (cand.join(inter, ["a", "b"], "left")
           .withColumn("_i0", F.coalesce("_i", F.lit(0)).cast("long"))
           .join(sa, "a").join(sb, "b")
           .withColumn("jac_micro",
                       F.expr("_i0 * 1000000 DIV (na + nb - _i0)"))
           .select("a", "b", "est_micro", "jac_micro",
                   (F.col("est_micro") - F.col("jac_micro"))
                   .alias("err_micro")))
    return _track_persisted(
        out, [grams, *getattr(cand_full, "_geotile_persisted", [])])


def containment_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      cont_threshold: float = 0.5,
                      k: int = 7, window: int = 4, min_shared: int = 3,
                      max_df: int = 16) -> DataFrame:
    """Asymmetric near-duplicate CONTAINMENT pairs — the quote/subset
    duplication symmetric Jaccard systematically misses (a short doc
    embedded verbatim in a long one has low Jaccard but containment
    ~1, which is why dedup literature screens both).  Candidates come
    from winnowing fingerprints (:func:`winnow_pairs` — robust to size
    asymmetry because fingerprints are local, and df-capped so never
    all-pairs); the EXACT word-n-gram containment per side then runs
    on candidates only: ``cont_a = |A∩B| / |A|`` as a floored
    micro-integer, likewise ``cont_b``.  Returns ``(a, b, inter,
    cont_a_micro, cont_b_micro)`` where the max containment clears the
    threshold."""
    thr = int(cont_threshold * 1000000)
    cand_full = winnow_pairs(df, id_col=id_col, text_col=text_col, k=k,
                             window=window, min_shared=min_shared,
                             max_df=max_df)
    cand = cand_full.select("a", "b")
    toks = (df.select(F.col(id_col),
                      F.split(F.trim(F.col(text_col)), WS_CLASS).alias("w"))
            .where(F.size("w") >= n))
    grams = toks.select(
        id_col,
        F.explode(F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.concat_ws(" ", F.slice("w", i + 1, n)))).alias("g")) \
        .distinct().persist()
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("ng"))
    ga = grams.select(F.col(id_col).alias("a"), "g")
    gb = grams.select(F.col(id_col).alias("b2"), F.col("g").alias("gb"))
    inter = (cand.join(ga, "a")
             .join(gb, (F.col("b") == F.col("b2")) & (F.col("g") == F.col("gb")))
             .groupBy("a", "b").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col(id_col).alias("a"), F.col("ng").alias("na"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("ng").alias("nb"))
    out = (inter.join(sa, "a").join(sb, "b")
           .withColumn("cont_a_micro", F.expr("inter * 1000000 DIV na"))
           .withColumn("cont_b_micro", F.expr("inter * 1000000 DIV nb"))
           .where(F.greatest("cont_a_micro", "cont_b_micro") >= F.lit(thr))
           .select("a", "b", "inter", "cont_a_micro", "cont_b_micro"))
    return _track_persisted(
        out, [grams, *getattr(cand_full, "_geotile_persisted", [])])


def source_js_pairs(df: DataFrame, group: str = "source",
                    text_col: str = "text") -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions — the SYMMETRIC data-mixing distance completing
    q122's one-vs-blend KL drift: which pairs of sources are
    near-duplicates of each other's vocabulary and which are genuinely
    diverse (the mixture-design question).  JS(P,Q) = (KL(P||M) +
    KL(Q||M)) / 2 with M the even mixture.

    Exactness: counts and totals are int64; every KL term is ONE
    fixed-shape double expression over them —
    ``p * ln(2p / (p + q))`` with p = c_a/tot_a, q = c_b/tot_b —
    floored to nano-nats BEFORE the per-pair sum (order-independent),
    and the final halving is integer DIV.  Tokens absent from the
    other source contribute ``p * ln 2`` (q coalesces to 0), so no
    smoothing constant pollutes the gate.

    Scale shape: one (source, token) count shuffle; the per-source
    totals are a broadcast; each pair's terms come from the count
    table joined to the TINY source-pair list and left-joined back to
    counts on (token, other) — fan-out is n_sources per token row,
    quadratic only in the source COUNT (dozens), never in tokens."""
    toks = df.select(F.col(group).alias("src"),
                     F.explode(F.split(F.trim(F.col(text_col)),
                                       WS_CLASS)).alias("t"))
    cnt = toks.groupBy("src", "t").agg(F.count("*").alias("c")).persist()
    tot = cnt.groupBy("src").agg(F.sum("c").alias("tot"))
    pr = (tot.alias("x").crossJoin(tot.alias("y"))
          .where(F.col("x.src") < F.col("y.src"))
          .select(F.col("x.src").alias("sa"), F.col("x.tot").alias("ta"),
                  F.col("y.src").alias("sb"), F.col("y.tot").alias("tb")))

    def _half(side_a: str, side_b: str):
        # sum over tokens of side_a of floor(1e9 * p*ln(2p/(p+q)))
        left = cnt.select(F.col("src").alias(side_a), "t",
                          F.col("c").alias("ca"))
        other = cnt.select(F.col("src").alias("_osrc"),
                           F.col("t").alias("_ot"),
                           F.col("c").alias("cb"))
        j = (pr.join(left, side_a)
             .join(other, (F.col(side_b) == F.col("_osrc"))
                   & (F.col("t") == F.col("_ot")), "left")
             .withColumn("cb0", F.coalesce("cb", F.lit(0))))
        p = F.col("ca") / (F.col("ta") if side_a == "sa" else F.col("tb"))
        q = F.col("cb0") / (F.col("tb") if side_a == "sa" else F.col("ta"))
        term = F.floor(p * F.log(F.lit(2.0) * p / (p + q))
                       * F.lit(1e9)).cast("long")
        return (j.groupBy("sa", "sb")
                .agg(F.sum(term).alias(f"kl_{side_a}")))

    ka = _half("sa", "sb")
    kb = _half("sb", "sa")
    out = (ka.join(kb, ["sa", "sb"])
           .select(F.col("sa").alias("a"), F.col("sb").alias("b"),
                   F.col("kl_sa").alias("kl_a_nano"),
                   F.col("kl_sb").alias("kl_b_nano"),
                   # JS >= 0 mathematically; per-term floors can push the
                   # sum a few nanos negative, and Spark DIV truncates
                   # where DuckDB // floors — clamp BEFORE halving so the
                   # operand is non-negative on both engines
                   F.expr("greatest(0, kl_sa + kl_sb) DIV 2")
                   .alias("js_nano")))
    return _track_persisted(out, [cnt])


def source_syndication(df: DataFrame, n: int = 5, group: str = "source",
                       text_col: str = "text", max_df: int = 16,
                       min_shared: int = 2) -> DataFrame:
    """Cross-source syndication matrix: per source PAIR the count of
    distinct ``n``-token chunk values published by BOTH — which
    sources republish each other's content, the provenance question a
    mixing/dedup pipeline asks of a multi-source corpus (exact-hash
    dup counts miss near-verbatim syndication; chunk grain catches
    partial reuse).  Chunks are the same disjoint n-token windows as
    :func:`dup_chunk_ratio`; chunks carried by more than ``max_df``
    sources are ubiquitous boilerplate and are capped out (the winnow
    rule — their absence is the documented guarantee loss).

    Scale shape: one DISTINCT (source, chunk) shuffle, the df-cap
    window on the SAME partitioning, then a bounded per-chunk pair
    fan-out (<= max_df^2/2) — quadratic in sources per chunk, never in
    documents.  Returns ``(a, b, n_shared)`` with a < b and
    n_shared >= min_shared."""
    w = F.split(F.trim(F.col(text_col)), WS_CLASS)
    nch = F.ceil(F.size(w) / F.lit(n)).cast("long")
    chunks = F.transform(
        F.sequence(F.lit(0).cast("long"), nch - 1),
        lambda j: F.concat_ws(" ", F.slice(w, (j * n + 1).cast("int"), n)))
    post = (df.select(F.col(group).alias("src"),
                      F.explode(chunks).alias("chunk"))
            .distinct()
            .withColumn("_df", F.count("*").over(Window.partitionBy("chunk")))
            .where(F.col("_df") <= max_df).drop("_df")
            .persist())
    l = post.alias("l")
    r = post.alias("r")
    out = (l.join(r, (F.col("l.chunk") == F.col("r.chunk"))
                  & (F.col("l.src") < F.col("r.src")))
           .groupBy(F.col("l.src").alias("a"), F.col("r.src").alias("b"))
           .agg(F.count("*").alias("n_shared"))
           .where(F.col("n_shared") >= min_shared))
    return _track_persisted(out, [post])


def quantile_normalize(df: DataFrame, val_col: str = "n_chars",
                       group: str = "source",
                       id_col: str = "doc_id") -> DataFrame:
    """Quantile normalization across groups (the batch-effect
    harmonizer): each row's value maps to the GLOBAL value at the
    equivalent rank — within-group rank ``rn`` of ``n_g`` values maps
    to the global sorted value at 1-based index ``ceil(rn * N / n_g)``
    (exact integer ceil division) — so every group's normalized
    distribution equals the corpus distribution.  The normalized value
    is an ACTUAL corpus value, never an interpolation double.

    Scale shape: one per-group rank window; the global side is NOT a
    global row_number over N rows (a single-partition sort at corpus
    scale) but a value-collapsed cumulative table — (value,
    cum_count), bounded by DISTINCT values, broadcast into a non-equi
    min-lookup.  Returns ``(id, group, x, rn, n_g, norm_x)``."""
    base = df.select(F.col(id_col), F.col(group).alias("grp"),
                     F.col(val_col).cast("long").alias("x"))
    wg = Window.partitionBy("grp").orderBy(F.col("x").asc(),
                                           F.col(id_col).asc())
    ranked = (base.withColumn("rn", F.row_number().over(wg).cast("long"))
              .withColumn("n_g", F.count("*")
                          .over(Window.partitionBy("grp")).cast("long")))
    vals = base.groupBy("x").agg(F.count("*").alias("_c"))
    wv = Window.orderBy(F.col("x").asc()) \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = (vals.withColumn("cum", F.sum("_c").over(wv).cast("long"))
           .select(F.col("x").alias("gx"), "cum"))
    n_total = base.count()
    tgt = F.expr(f"(rn * {n_total} + n_g - 1) DIV n_g")
    hit = (ranked.withColumn("_k", tgt)
           .join(F.broadcast(cum), F.col("cum") >= F.col("_k"))
           .groupBy(id_col, "grp", "x", "rn", "n_g")
           .agg(F.min("gx").alias("norm_x")))
    return hit.select(F.col(id_col), F.col("grp").alias(group), "x", "rn",
                      "n_g", "norm_x")


def best_snippet(df: DataFrame, terms, window: int = 8,
                 id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Query-biased snippet extraction: per matching document the
    ``window``-token span containing the MOST query-term hits (tie:
    earliest start), returned as text — the serving-side presentation
    step after retrieval (q63 BM25 / q146 boolean / q171 phrases),
    using the classic optimality rule that a best window starts AT a
    hit, so only hit positions are scored.

    Scale shape: the posexplode feeds a literal-term filter MAP-SIDE
    (the q171 postings discipline) so only hits ever shuffle; the
    window scoring is a bounded per-doc self-join over the slim
    (id, pos) hit list; winners join BACK to the documents so the
    snippet slice is one map-side array op (the token arrays never
    ride through the join chain).  Returns ``(id, win_start, n_hits,
    snippet)`` for documents with at least one hit, win_start
    0-based."""
    if not terms:
        raise ValueError("need at least one term")
    toks = F.split(F.trim(F.col(text_col)), WS_CLASS)
    term_arr = F.array(*[F.lit(t) for t in sorted(set(terms))])
    hits = (df.select(F.col(id_col), F.posexplode(toks).alias("pos", "term"))
            .where(F.array_contains(term_arr, F.col("term")))
            .select(id_col, "pos")
            .persist())
    l = hits.select(F.col(id_col), F.col("pos").alias("s"))
    r = hits.select(F.col(id_col).alias("_id2"), F.col("pos").alias("q"))
    scored = (l.join(r, (F.col(id_col) == F.col("_id2"))
                    & (F.col("q") >= F.col("s"))
                    & (F.col("q") <= F.col("s") + (window - 1)))
              .groupBy(id_col, "s").agg(F.count("*").alias("n_hits")))
    wb = Window.partitionBy(id_col).orderBy(F.col("n_hits").desc(),
                                            F.col("s").asc())
    best = (scored.withColumn("_rn", F.row_number().over(wb))
            .where(F.col("_rn") == 1).select(id_col, "s", "n_hits"))
    out = (df.join(best, id_col)
           .select(F.col(id_col), F.col("s").cast("long").alias("win_start"),
                   F.col("n_hits"),
                   F.concat_ws(" ", F.slice(toks, F.col("s") + 1,
                                            window)).alias("snippet")))
    return _track_persisted(out, [hits])


def cluster_provenance(df: DataFrame, id_col: str = "doc_id",
                       group: str = "source", **cluster_kwargs) -> DataFrame:
    """Provenance rollup of near-duplicate clusters: per cluster the
    member count, how many distinct sources it spans, and the keeper's
    source — "is this duplication WITHIN a source (re-posts) or ACROSS
    sources (syndication)", the attribution question a dedup report
    answers next after q61 resolves the clusters.  Pure composition:
    :func:`near_dup_clusters` + one join back to the corpus for the
    group column + one cluster rollup (clusters are tiny next to the
    corpus)."""
    cc = near_dup_clusters(df, id_col=id_col, **cluster_kwargs)
    j = cc.join(df.select(F.col(id_col), F.col(group)), id_col)
    out = (j.groupBy("cluster_id")
           .agg(F.count("*").alias("n_docs"),
                F.countDistinct(group).alias("n_sources"),
                F.max(F.when(F.col("keep") == 1, F.col(group)))
                .alias("keeper_source")))
    return _track_persisted(out, getattr(cc, "_geotile_persisted", []))


def phrase_merges(df: DataFrame, rounds: int = 3,
                  text_col: str = "text") -> DataFrame:
    """Iterative pair-merge learning — word2phrase (Mikolov et al.
    2013) / one word-level BPE training step per round: each round
    counts adjacent token pairs over the CURRENT corpus, fuses the
    most frequent pair (count desc, pair asc tie rule) everywhere with
    a leftmost-non-overlapping string replace, and repeats — later
    rounds can merge onto earlier fusions, which is what makes this
    tokenizer TRAINING rather than q73's static collocation ranking.

    Determinism contract: the corpus is first canonicalized to
    single-space joins, and ``replace`` is leftmost-non-overlapping
    with the separator space consumed (probed identical in Spark/Java
    and DuckDB — including the odd-run artifact where 'x x x x' fuses
    only its first pair); that pinned semantics IS the operator.

    Scale shape: per round one narrow pair count (map-side explode of
    array shifts, the q178 window trick) + one 1-row driver collect
    (the argmax — the same contractually-small collect as pagerank's
    node count) + one map-only replace.  Returns the learned merge
    table ``(round, pair, n)``."""
    spark = df.sparkSession
    canon = F.concat(F.lit(" "),
                     F.concat_ws(" ", F.split(F.trim(F.col(text_col)),
                                              WS_CLASS)),
                     F.lit(" "))
    cur = df.select(canon.alias("_s"))
    merges = []
    for r in range(1, rounds + 1):
        w = F.split(F.trim(F.col("_s")), " ")
        a = F.slice(w, 1, F.size(w) - 1)
        b = F.slice(w, 2, F.size(w) - 1)
        top = (cur.where(F.size(w) > 1)
               .select(F.explode(F.zip_with(
                   a, b, lambda x, y: F.concat_ws(" ", x, y))).alias("p"))
               .groupBy("p").agg(F.count("*").alias("n"))
               .orderBy(F.col("n").desc(), F.col("p").asc())
               .limit(1).collect())
        if not top:
            break
        pa, pb = top[0]["p"].split(" ", 1)
        if "'" in pa or "'" in pb:
            raise ValueError("merge tokens must not contain quotes")
        merges.append((r, f"{pa} {pb}", int(top[0]["n"])))
        cur = cur.select(F.expr(
            f"replace(_s, ' {pa} {pb} ', ' {pa}_{pb} ')").alias("_s"))
    return spark.createDataFrame(merges, "round long, pair string, n long")


def budget_apportionment(df: DataFrame, total: int = 1000,
                         group: str = "source") -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a crawl /
    sampling budget across groups, proportional to exact row counts —
    the integer allocator behind per-source fetch quotas and mixture
    targets (q72 enforces a GIVEN quota; this COMPUTES the fair one).
    Floors are ``c * total DIV S``; the ``total - sum(floors)``
    leftover seats go to the largest remainders
    (``(c * total) % S`` desc, group asc tie rule) — all exact int64
    (c * total bounded by corpus x budget, far inside range).
    ``sum(alloc) == total`` by construction (pytest-pinned).

    One count aggregate; everything after runs on the tiny group
    table (windows over groups, never rows).  Returns
    ``(group, n_docs, alloc_floor, extra, alloc)``."""
    cnt = df.groupBy(F.col(group).alias("grp")).agg(
        F.count("*").alias("n_docs"))
    wall = Window.partitionBy()
    base = (cnt.withColumn("_S", F.sum("n_docs").over(wall))
            .withColumn("_q", F.col("n_docs") * F.lit(int(total)))
            .withColumn("alloc_floor", F.expr("_q DIV _S"))
            .withColumn("_rem", F.expr("_q % _S")))
    wr = Window.orderBy(F.col("_rem").desc(), F.col("grp").asc())
    ranked = (base.withColumn("_rk", F.row_number().over(wr))
              .withColumn("_R", F.lit(int(total))
                          - F.sum("alloc_floor").over(wall)))
    return (ranked.withColumn("extra",
                              (F.col("_rk") <= F.col("_R"))
                              .cast("long"))
            .select(F.col("grp").alias(group), "n_docs", "alloc_floor",
                    "extra",
                    (F.col("alloc_floor") + F.col("extra"))
                    .alias("alloc")))


def ks_pairs(df: DataFrame, value_col: str = "n_chars",
             group: str = "source") -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between every pair
    of groups over an INTEGER feature — the distribution-drift test
    joining q122's KL (binned, smoothed) and q179's JS (token mass):
    KS is binning-free and metric on CDFs, the standard "did this
    source's length distribution shift" screen.

    Emitted statistic is the EXACT integer-scaled supremum
    ``d_scaled = max_x |c1(x)*n2 - c2(x)*n1|`` where ``c_i(x)`` is the
    count of group-i values <= x (so D = d_scaled / (n1*n2) — consumers
    divide; the gate compares integers).  Ties and duplicate values are
    handled exactly: the sup runs over the union of observed values.

    Scale shape: one partially-aggregated histogram shuffle
    (group × value — bounded by VALUE CARDINALITY, not rows), then all
    work runs on the histogram: a value-grid × groups frame (grid is
    small-side broadcast), one cumulative window per group, and a
    pair equi-join on value.  Integer products c*n stay in int64 up to
    ~3e9 rows per group — beyond that, pre-scale counts (document) —
    and no data-sized sort or shuffle exists anywhere.

    Returns ``(g1, g2, n1, n2, d_scaled)``, one row per unordered
    group pair (g1 < g2)."""
    from . import cache

    v = F.col(value_col).cast("long")
    hist = (df.groupBy(F.col(group).alias("g"), v.alias("val"))
            .agg(F.count("*").alias("c")).persist())
    sizes = hist.groupBy("g").agg(F.sum("c").alias("n"))
    grid = (hist.select("val").distinct()
            .crossJoin(F.broadcast(sizes.select("g"))))
    w = (Window.partitionBy("g").orderBy("val")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (grid.join(hist, ["g", "val"], "left")
           .select("g", "val", F.coalesce("c", F.lit(0)).alias("c"))
           .withColumn("cum", F.sum("c").over(w))
           .join(F.broadcast(sizes), "g"))
    a = cum.select(F.col("g").alias("g1"), "val",
                   F.col("cum").alias("c1"), F.col("n").alias("n1"))
    b = cum.select(F.col("g").alias("g2"), "val",
                   F.col("cum").alias("c2"), F.col("n").alias("n2"))
    out = (a.join(b, "val").where(F.col("g1") < F.col("g2"))
           .groupBy("g1", "g2")
           .agg(F.max("n1").alias("n1"), F.max("n2").alias("n2"),
                F.max(F.abs(F.col("c1") * F.col("n2")
                            - F.col("c2") * F.col("n1")))
                .alias("d_scaled")))
    return cache.track(out.select("g1", "g2", "n1", "n2", "d_scaled"),
                       [hist])


def first_digit_audit(df: DataFrame, text_col: str = "text",
                      group: str = "source") -> DataFrame:
    """Benford-style first-significant-digit audit over the numeric
    tokens of a corpus: extract every digit run, drop leading zeros
    (all-zero runs are skipped — no significant digit), and count
    first digits 1–9 per group — the classic fabricated-data /
    scraped-boilerplate screen over web text.

    Emits exact integers only: per ``(group, digit)`` the count ``n``,
    the group total ``n_total``, and ``dev = (9*n - n_total)^2`` — the
    scaled squared deviation from the UNIFORM digit law (sum over
    digits is the chi-square numerator against uniform, times 81/9).
    The Benford expectation log10(1+1/d) is left to consumers: it is
    irrational, and this gate compares exact integers (same discipline
    as q84's floored entropies).

    Scale shape: map-only extraction (regexp_extract_all + explode,
    whole-stage codegen), one partially-aggregated (group, digit)
    shuffle — the aggregate frame is <= 9 rows per group."""
    toks = (df.select(F.col(group).alias("g"),
                      F.explode(F.regexp_extract_all(
                          F.col(text_col), F.lit(r"[0-9]+"), 0)).alias("tok"))
            .select("g", F.regexp_replace("tok", r"^0+", "").alias("sig"))
            .where(F.length("sig") > 0)
            .select("g", F.substring("sig", 1, 1).cast("long").alias("digit")))
    counts = toks.groupBy("g", "digit").agg(F.count("*").alias("n"))
    totals = counts.groupBy("g").agg(F.sum("n").alias("n_total"))
    out = (counts.join(totals, "g")
           .withColumn("dev", (F.lit(9) * F.col("n") - F.col("n_total"))
                       * (F.lit(9) * F.col("n") - F.col("n_total"))))
    return out.select(F.col("g").alias(group), "digit", "n", "n_total", "dev")


def spearman_pairs(df: DataFrame, x_col: str, y_col: str,
                   group: str = "source") -> DataFrame:
    """Per-group Spearman rank correlation between two INTEGER
    features — the robust companion to q155's Pearson (monotone, not
    linear, association; immune to the heavy tails raw web-text
    lengths carry).  Ties get MIDRANKS, kept exact as 2x-scaled
    integers: ``r2 = 2*rank + ties - 1`` (= first rank + last rank of
    the tie run).

    Emits exact integers: ``n``, ``sum_d2 = sum (r2x - r2y)^2`` (4x
    the classic sum of squared rank differences), and the tie
    corrections ``tie_x/tie_y = sum_t (t^3 - t)`` per variable —
    everything rho-with-ties needs, computed by consumers; the gate
    compares the integers.

    Scale shape: two rank windows per group (the unavoidable sort for
    exact ranks — at 100-TB prefer the histogram route: both features
    here are bounded-cardinality, so ranks can also be derived from
    the (group, value) histogram without a row-level sort; this
    row-window form is the small-group exact path), then one
    partially-aggregated shuffle."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    base = df.select(F.col(group).alias("g"), x.alias("x"), y.alias("y"))
    wx = Window.partitionBy("g").orderBy("x")
    wy = Window.partitionBy("g").orderBy("y")
    cx = Window.partitionBy("g", "x")
    cy = Window.partitionBy("g", "y")
    r = (base
         .withColumn("r2x", F.lit(2) * F.rank().over(wx)
                     + F.count("*").over(cx) - F.lit(1))
         .withColumn("r2y", F.lit(2) * F.rank().over(wy)
                     + F.count("*").over(cy) - F.lit(1)))
    d2 = (r.groupBy("g")
          .agg(F.count("*").alias("n"),
               F.sum((F.col("r2x") - F.col("r2y"))
                     * (F.col("r2x") - F.col("r2y"))).alias("sum_d2")))
    tx = (base.groupBy("g", "x").agg(F.count("*").alias("t"))
          .groupBy("g").agg(F.sum(F.col("t") * F.col("t") * F.col("t")
                                  - F.col("t")).alias("tie_x")))
    ty = (base.groupBy("g", "y").agg(F.count("*").alias("t"))
          .groupBy("g").agg(F.sum(F.col("t") * F.col("t") * F.col("t")
                                  - F.col("t")).alias("tie_y")))
    return (d2.join(tx, "g").join(ty, "g")
            .select(F.col("g").alias(group), "n", "sum_d2",
                    "tie_x", "tie_y"))


def weighted_sample(df: DataFrame, k: int = 5, weight_col: str = "n_chars",
                    group: str = "source",
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted sampling without replacement, k per
    group: priority-sampling flavor (Duffield et al.) with an exact
    integer hash in place of randomness — priority = (xxhash64(id) &
    (2^40-1)) / weight, keep the k SMALLEST priorities per group — so
    heavier rows win proportionally, reruns are bit-identical, and
    the mixture-sampling step of a training-data pipeline needs no RNG
    state.  The 40-bit mask keeps the numerator exactly representable
    in a double; IEEE division is correctly rounded in both engines, so
    the priority ORDER is cross-engine exact (id tiebreak regardless).

    Returns ``(group, id, w, pr_floor, rank)`` for the k winners per
    group — pr_floor = floor(priority), gate-friendly exact.

    Scale shape: map-only hash + one per-group top-k window (swap in
    skew.salted_topn when a group can exceed an executor's sort —
    same contract as q75's cell sampler).  Weights must be >= 1."""
    m = (F.xxhash64(F.col(id_col)).bitwiseAND(F.lit((1 << 40) - 1))
         .cast("double"))
    pr = m / F.col(weight_col).cast("double")
    w = Window.partitionBy(group).orderBy(F.asc("_pr"), F.asc(id_col))
    return (df.select(group, id_col, F.col(weight_col).alias("w"),
                      pr.alias("_pr"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= int(k))
            .select(group, id_col, "w",
                    F.floor("_pr").cast("long").alias("pr_floor"), "rank"))


def gazetteer_link(df: DataFrame, gazetteer, text_col: str = "text",
                   group: str = "source") -> DataFrame:
    """Text -> geo ENTITY LINKING against a literal gazetteer: tokenize
    on the shared WS_CLASS, equi-join tokens to the (name, lat, lon)
    gazetteer, and count mentions per (group, name) — the name-based
    geocoding path that complements the engine's numeric lat/lon
    mention parser (extract.with_mentions): real pipelines geocode
    BOTH coordinate strings and place names.

    ``gazetteer`` is a list of (name, lat, lon) tuples — a DIM-side
    table by contract (broadcast; city lists are thousands of rows,
    never data-sized).  Matching is exact-token (case-sensitive);
    normalization belongs upstream.

    Returns ``(group, name, lat, lon, n)`` for names with >= 1
    mention.

    Scale shape: map-only tokenize + explode, one broadcast equi-join,
    one (group, name) partial aggregation."""
    spark = df.sparkSession
    gaz = spark.createDataFrame(
        [(str(n), float(a), float(o)) for n, a, o in gazetteer],
        "name string, lat double, lon double")
    toks = (df.select(F.col(group).alias("g"),
                      F.explode(F.split(F.trim(F.col(text_col)),
                                        WS_CLASS)).alias("name")))
    return (toks.join(F.broadcast(gaz), "name")
            .groupBy("g", "name")
            .agg(F.max("lat").alias("lat"), F.max("lon").alias("lon"),
                 F.count("*").alias("n"))
            .select(F.col("g").alias(group), "name", "lat", "lon", "n"))


def vocab_growth(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", buckets: int = 10) -> DataFrame:
    """Vocabulary growth curve (Heaps'-law diagnostics): tokens marked
    at their FIRST-seen document (min doc id), documents split into
    ``buckets`` equal id ranges, and per bucket the exact count of
    newly introduced token types next to total occurrences — the
    corpus-maturity curve that says whether more data still buys new
    vocabulary (flattening curve = diminishing type yield).

    Returns ``(bucket, n_new_tokens, n_occurrences, cum_vocab)`` —
    all exact BIGINTs; cum_vocab is the running type total.

    Scale shape: one token-level partial aggregation (min doc id per
    type — the same shuffle a vocabulary build already pays), a
    broadcast 1-row max-id, and a ``buckets``-row window."""
    from . import cache

    toks = (df.select(F.col(id_col).alias("d"),
                      F.explode(F.split(F.trim(F.col(text_col)),
                                        WS_CLASS)).alias("t"))
            .where(F.col("t") != ""))
    mx = df.agg(F.max(F.col(id_col)).alias("mx"))
    bkt = lambda c: F.floor(F.col(c) * buckets / (F.col("mx") + 1)) \
        .cast("long")
    first = (toks.groupBy("t").agg(F.min("d").alias("fd"))
             .crossJoin(F.broadcast(mx))
             .groupBy(bkt("fd").alias("bucket"))
             .agg(F.count("*").alias("n_new_tokens")))
    occ = (toks.crossJoin(F.broadcast(mx))
           .groupBy(bkt("d").alias("bucket"))
           .agg(F.count("*").alias("n_occurrences")))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (first.join(occ, "bucket", "full")
           .select("bucket",
                   F.coalesce("n_new_tokens", F.lit(0)).alias("n_new_tokens"),
                   F.coalesce("n_occurrences", F.lit(0))
                   .alias("n_occurrences"))
           .withColumn("cum_vocab", F.sum("n_new_tokens").over(w)))
    return out


RAKE_STOPWORDS = ("the", "a", "of", "and", "to", "in")


def rake_keywords(df: DataFrame, top_n: int = 15,
                  stopwords: tuple = RAKE_STOPWORDS) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) at corpus level —
    candidate phrases are the maximal stopword-free token runs, each
    word scores ``deg/freq`` (deg = total length of phrases it appears
    in, freq = its occurrence count inside phrases), and a phrase
    scores the sum of its words' scores.  The corpus-level top-N
    (score desc, phrase asc) is the unsupervised index-term list —
    the cheap keyword layer under q178's TextRank (TextRank needs a
    co-occurrence graph walk; RAKE is two aggregations).

    Exactness: word scores quantize to ``score_micro = (deg * 1e6)
    div freq`` — pure BIGINT integer division, no doubles anywhere —
    and a phrase's score is the SUM of its token occurrences' word
    scores (multiplicity counts, the classic formulation).

    Scale shape: one per-doc window (phrase segmentation by running
    stopword count, bounded by doc length), one token-level word-stat
    aggregation joined back by word (bounded by vocabulary), one
    phrase rollup, and a global top-N TakeOrdered — no self-joins, no
    pair frames.  Returns ``(rank, phrase, n_words, n_occurrences,
    score_micro)``."""
    from pyspark.sql import Window as W

    toks = (df.select("doc_id",
                      F.posexplode(F.split(F.trim("text"), WS_CLASS))
                      .alias("pos", "t"))
            .where(F.col("t") != ""))
    stop = F.col("t").isin(*stopwords)
    wd = W.partitionBy("doc_id").orderBy("pos")
    seg = (toks.withColumn("pid", F.sum(stop.cast("long")).over(wd))
           .where(~stop))
    # per phrase occurrence: id, token list in order
    ph = (seg.groupBy("doc_id", "pid")
          .agg(F.sort_array(F.collect_list(F.struct("pos", "t")))
               .alias("st"))
          .select("doc_id", "pid",
                  F.transform("st", lambda s: s["t"]).alias("ws"))
          .withColumn("plen", F.size("ws").cast("long")))
    # word stats over phrase tokens: freq + deg (sum of phrase lengths)
    wstat = (ph.select(F.explode("ws").alias("w"), "plen")
             .groupBy("w")
             .agg(F.count("*").alias("freq"),
                  F.sum("plen").alias("deg"))
             .withColumn("wscore",
                         F.expr("(deg * 1000000) div freq")))
    # phrase score = sum of member-token word scores (with multiplicity)
    psc = (ph.select(F.array_join("ws", " ").alias("phrase"), "plen",
                     F.explode("ws").alias("w"))
           .join(wstat.select("w", "wscore"), "w")
           .groupBy("phrase", "plen")
           .agg(F.count("*").alias("n_tok_rows"),
                F.sum("wscore").alias("occ_score")))
    # occ_score aggregated over ALL occurrences of the phrase; per-
    # occurrence score = occ_score / n_occ where n_occ = n_tok_rows/plen
    agg = (psc.withColumn("n_occurrences",
                          F.expr("n_tok_rows div plen"))
           .withColumn("score_micro",
                       F.expr("occ_score div n_occurrences"))
           .select("phrase", F.col("plen").alias("n_words"),
                   "n_occurrences", "score_micro"))
    wr = W.orderBy(F.desc("score_micro"), F.asc("phrase"))
    return (agg.withColumn("rank", F.row_number().over(wr).cast("long"))
            .where(F.col("rank") <= top_n)
            .select("rank", "phrase", "n_words", "n_occurrences",
                    "score_micro"))


def contingency_chi2(df: DataFrame, row_col: str = "source",
                     col_col: str = "lang") -> DataFrame:
    """Chi-square independence audit over a two-way contingency table
    (row x column category counts, zero-filled over the full observed
    category grid) — the data-mix diagnostic telling WHICH (source,
    lang) cells are over/under-represented against independence, the
    per-cell view underneath q122's KL drift and q179's JS divergence.

    Emits per grid cell the exact integer evidence — observed ``o``,
    row total ``r_tot``, column total ``c_tot`` — plus ``e_micro =
    floor(1e6 * r*c/N)`` and ``chi_micro = floor(1e6 * (o-e)^2/e)``
    derived in ONE fixed-shape double expression each (total chi² and
    Cramér's V are one rollup away; the gate compares integers).

    Scale shape: one data-sized partial count aggregate; the grid is
    categories x categories (never row-sized), built by cross-joining
    the two marginal frames and left-joining the observed counts; the
    corpus total attaches as a 1-row broadcast."""
    c = (df.groupBy(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
         .agg(F.count("*").alias("o")))
    rt = c.groupBy("r").agg(F.sum("o").alias("r_tot"))
    ct = c.groupBy("c").agg(F.sum("o").alias("c_tot"))
    nn = c.agg(F.sum("o").alias("nn"))
    grid = (rt.crossJoin(ct).crossJoin(F.broadcast(nn))
            .join(c, ["r", "c"], "left")
            .withColumn("o", F.coalesce("o", F.lit(0).cast("long"))))
    e = (F.col("r_tot").cast("double") * F.col("c_tot").cast("double")
         / F.col("nn").cast("double"))
    d = F.col("o").cast("double") - e
    return (grid.select(
        F.col("r").alias(row_col), F.col("c").alias(col_col),
        "o", "r_tot", "c_tot",
        F.floor(F.lit(1000000.0) * e).cast("long").alias("e_micro"),
        F.floor(F.lit(1000000.0) * (d * d / e)).cast("long")
        .alias("chi_micro")))


def kendall_tau(df: DataFrame, x_col: str, y_col: str,
                group_col: str = "source",
                id_col: str = "doc_id") -> DataFrame:
    """Per-group Kendall concordance counts between two features —
    the rank-correlation triad's third leg (q155 Pearson measures
    linearity, q220 Spearman monotonicity via ranks; Kendall counts
    PAIR inversions, the most outlier-robust and the one with a
    direct probabilistic reading: P(concordant) - P(discordant)).

    Emits per group the exact integer pair census over all C(n,2)
    id-ordered pairs: ``nc`` concordant, ``nd`` discordant, ``t_x``
    ties on x only, ``t_y`` ties on y only, ``t_xy`` ties on both —
    tau-b is one formula away; the gate compares the integers.

    Scale shape: the self-join runs per group on the SLIM (id, x, y)
    projection; the census is a map-side partial aggregate over the
    pair stream.  The O(n^2) pair frame is the exact definition —
    bounded here by group size; at web scale feed a per-group
    hash-capped sample (textops.source_quota) first, the same
    documented trade as every pairwise-exact operator in this
    engine."""
    s = df.select(F.col(group_col).alias("g"), F.col(id_col).alias("i"),
                  F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    a = s.select("g", F.col("i").alias("ia"), F.col("x").alias("xa"),
                 F.col("y").alias("ya"))
    b = s.select(F.col("g").alias("gb"), F.col("i").alias("ib"),
                 F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, (a["g"] == b["gb"]) & (a["ia"] < b["ib"]))
    dx = F.signum((F.col("xb") - F.col("xa")).cast("double"))
    dy = F.signum((F.col("yb") - F.col("ya")).cast("double"))
    return (pairs.groupBy("g")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("long")
                 .alias("nc"),
                 F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("long")
                 .alias("nd"),
                 F.sum(F.when((dx == 0) & (dy != 0), 1).otherwise(0))
                 .cast("long").alias("t_x"),
                 F.sum(F.when((dy == 0) & (dx != 0), 1).otherwise(0))
                 .cast("long").alias("t_y"),
                 F.sum(F.when((dx == 0) & (dy == 0), 1).otherwise(0))
                 .cast("long").alias("t_xy"))
            .withColumnRenamed("g", group_col))


def ndcg_eval(df: DataFrame, queries: dict, k: int = 10,
              rel_levels: int = 4,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Retrieval-quality evaluation: nDCG@k building blocks for a set
    of BM25 queries against hash-derived graded relevance — the IR
    eval harness a retrieval stack ships with (BM25 q63, phrase q171,
    boolean q146, hybrid RRF q169 produce rankings; this scores
    them).  Relevance is the deterministic synthetic grade
    ``rel(doc, qid) = pmod(xxhash64(doc_id*31 + qid), rel_levels)``
    — reproducible and oracle-replayable, standing in for human
    labels exactly like the multimodal codecs' deterministic fakes.

    Exactness: gains are the exact integers ``2^rel - 1``; each
    position's discounted gain quantizes to ``floor(1e6 * gain *
    ln(2) / ln(pos+1))`` BEFORE the sum (the engine-wide ln-floor
    discipline, same cross-engine ln assumption as q63's idf), and
    the ideal ordering re-ranks the SAME retrieved set by (rel desc,
    id asc) — the retrieved-set-ideal nDCG variant, documented.
    Emits per query: ``(qid, n_docs, rel_sum, dcg_micro,
    idcg_micro)`` — nDCG is one division away.

    Scale shape: one :func:`bm25_topk` per query (term-filtered
    explode, broadcast stats, TakeOrdered top-k); everything after
    runs on the queries x k ranked rows."""
    from pyspark.sql import Window as W

    parts = []
    for qid, terms in sorted(queries.items()):
        top = bm25_topk(df, list(terms), k=k, id_col=id_col,
                        text_col=text_col)
        wr = W.orderBy(F.desc("score_nano"), F.asc(id_col))
        parts.append(top.withColumn("pos", F.row_number().over(wr))
                     .select(F.lit(int(qid)).cast("long").alias("qid"),
                             F.col(id_col).alias("doc_id"), "pos"))
    ranked = reduce(DataFrame.unionByName, parts)
    rel = F.pmod(F.xxhash64(F.col("doc_id") * F.lit(31) + F.col("qid")),
                 F.lit(int(rel_levels))).cast("long")
    g = (ranked.withColumn("rel", rel)
         .withColumn("gain", F.expr(
             "shiftleft(cast(1 as bigint), cast(rel as int)) - 1")))
    wi = W.partitionBy("qid").orderBy(F.desc("rel"), F.asc("doc_id"))
    g = g.withColumn("ipos", F.row_number().over(wi))

    def disc(pos_col):
        return F.floor(F.lit(1000000.0) * F.col("gain").cast("double")
                       * F.log(F.lit(2.0))
                       / F.log(pos_col.cast("double") + F.lit(1.0))
                       ).cast("long")

    g = (g.withColumn("d", disc(F.col("pos")))
         .withColumn("di", disc(F.col("ipos"))))
    return (g.groupBy("qid")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("rel").alias("rel_sum"),
                 F.sum("d").alias("dcg_micro"),
                 F.sum("di").alias("idcg_micro")))


def ams_f2(df: DataFrame, n_est: int = 8,
           id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """AMS second-frequency-moment (F2) sketch with exact
    verification — the repeated-token "surprise" / self-join-size
    estimator (Alon-Matias-Szegedy 1996) joining the engine's sketch
    family (KMV distinct q47, HLL q125, count-min q148, MG heavy
    hitters q89): each estimator assigns every token type a ±1 sign
    from one BIT of its splitmix64 hash, and ``S_e = sum over types
    of count * sign_e`` squares into an unbiased F2 estimate.

    Exactness: signs come from hash bits (exact integers), the
    signed sums and their squares are exact BIGINTs, and the exact
    F2 = sum of squared counts rides along — so the GATE is exact
    while the estimator's error is inspectable per row (the q206
    HLL-audit discipline).  Emits one row per estimator: ``(est,
    s_sum, f2_est, f2_exact, n_types, n_tokens)``.

    Scale shape: one token-hash explode (the shared Arrow kernel),
    one (hash) count aggregate — types-sized after that; the
    estimator explode multiplies the TYPE frame by n_est, and every
    sum partial-aggregates map-side.  Sketch contract at 100 TB:
    per-partition S_e sums merge by addition, O(n_est) state."""
    toks = df.select(F.explode(token_hash_udf()(F.col(text_col)))
                     .alias("h"))
    counts = toks.groupBy("h").agg(F.count("*").alias("c"))
    ests = F.array(*[F.lit(e) for e in range(int(n_est))])
    # sign_e = 1 - 2 * bit_e(h), from the unsigned shift of the hash
    signed = (counts.select("h", "c", F.explode(ests).alias("est"))
              .withColumn("sgn", F.lit(1).cast("long") - F.lit(2)
                          * F.expr("shiftrightunsigned(h, est)")
                          .bitwiseAND(F.lit(1)).cast("long")))
    per_est = (signed.groupBy("est")
               .agg(F.sum(F.col("c") * F.col("sgn")).alias("s_sum")))
    ex = counts.agg(F.sum(F.col("c") * F.col("c")).alias("f2_exact"),
                    F.count("*").alias("n_types"),
                    F.sum("c").alias("n_tokens"))
    return (per_est.crossJoin(F.broadcast(ex))
            .select(F.col("est").cast("long").alias("est"), "s_sum",
                    (F.col("s_sum") * F.col("s_sum")).alias("f2_est"),
                    "f2_exact", "n_types", "n_tokens"))


def zipf_fit(df: DataFrame, group_col: str = "source",
             text_col: str = "text") -> DataFrame:
    """Zipf rank-frequency fit + vocabulary-richness census per group
    — the corpus-statistics companion to q233's Heaps curve (Heaps
    says how vocabulary GROWS; Zipf says how mass CONCENTRATES: a
    slope far from -1 flags TEMPLATED or keyword-stuffed sources):
    per group the token-type census (types, tokens, hapax legomena)
    and the exact OLS moments of the floored log-log rank-frequency
    line, from which the Zipf slope is one division away.

    Exactness: x = floor(1e6 * ln rank) and y = floor(1e6 * ln freq)
    quantize BEFORE the moment sums (the engine-wide ln-floor
    discipline), so Sx/Sy/Sxx/Sxy and the slope's rational
    (n*Sxy - Sx*Sy, n*Sxx - Sx^2) are exact BIGINTs.  Rank ties
    break by token (row_number, count desc, token asc) — pinned.

    Scale shape: one (group, token) count shuffle; ranks are one
    per-group window over the TYPE frame; the moment rollup
    partial-aggregates.  Returns ``(group, n_types, n_tokens,
    n_hapax, sx, sy, sxx, sxy, slope_num, slope_den)``."""
    toks = (df.select(F.col(group_col).alias("g"),
                      F.explode(F.split(F.trim(F.col(text_col)),
                                        WS_CLASS)).alias("t"))
            .where(F.col("t") != ""))
    c = toks.groupBy("g", "t").agg(F.count("*").alias("n"))
    w = Window.partitionBy("g").orderBy(F.desc("n"), F.asc("t"))
    r = (c.withColumn("rank", F.row_number().over(w))
         .withColumn("x", F.floor(F.lit(1000000.0)
                                  * F.log(F.col("rank").cast("double")))
                     .cast("long"))
         .withColumn("y", F.floor(F.lit(1000000.0)
                                  * F.log(F.col("n").cast("double")))
                     .cast("long")))
    agg = (r.groupBy("g")
           .agg(F.count("*").alias("n_types"),
                F.sum("n").alias("n_tokens"),
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
                .cast("long").alias("n_hapax"),
                F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                F.sum(F.col("x") * F.col("x")).alias("sxx"),
                F.sum(F.col("x") * F.col("y")).alias("sxy")))
    return (agg.withColumn(
        "slope_num",
        F.col("n_types") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .withColumn(
            "slope_den",
            F.col("n_types") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .withColumnRenamed("g", group_col))


def nb_classify(df: DataFrame, split_mod: int = 10, train_lt: int = 7,
                label_col: str = "source", id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Multinomial naive-Bayes source classifier — the classic
    supervised text baseline (spam/provenance/domain routing) run as
    a train/score pipeline entirely in DataFrame ops: docs hash-split
    into train (``pmod(xxhash64(doc_id), split_mod) < train_lt``) and
    test; the model is add-one-smoothed per-label token likelihoods
    over the TRAIN vocabulary; test docs score ``log prior + sum
    multiplicity * log p(token | label)`` and predict the argmax.

    Exactness: every log term quantizes to floored micro-nats BEFORE
    any sum (the engine-wide ln-floor discipline, same cross-engine
    ln assumption as q63's idf); token multiplicities and doc counts
    are exact ints; the argmax tie rule is min ``(-score, label)``.
    OOV semantics are declared: test tokens outside the train
    vocabulary are ignored (the inner join drops them) — the standard
    "restrict to vocabulary" NB formulation.

    Scale shape: one (label, token) count shuffle trains the model;
    the DENSE model (every label x every train token, zero counts
    smoothed) is |labels| times the sparse one — labels are a small
    constant, so the token-keyed score join stays a plain shuffle
    join with map-side partial sums; priors/vocab size are 1-row
    broadcasts.  Returns the confusion matrix ``(true_label,
    pred_label, n_docs)``."""
    is_train = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(split_mod))) \
        < F.lit(int(train_lt))
    toks = (df.select(id_col, label_col, is_train.alias("tr"),
                      F.split(F.trim(F.col(text_col)), WS_CLASS).alias("w"))
            .select(id_col, label_col, "tr", F.explode("w").alias("t"))
            .where(F.col("t") != ""))
    train_t = toks.where("tr")
    counts = (train_t.groupBy(label_col, "t")
              .agg(F.count("*").alias("c")))
    totals = (train_t.groupBy(label_col)
              .agg(F.count("*").alias("tot")))
    vocab = counts.select("t").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))
    docs = df.select(id_col, label_col, is_train.alias("tr"))
    prior_base = (docs.where("tr").groupBy(label_col)
                  .agg(F.count("*").alias("nd")))
    n_train = docs.where("tr").agg(F.count("*").alias("ntr"))
    priors = (prior_base.crossJoin(F.broadcast(n_train))
              .select(label_col,
                      F.floor(F.log(F.col("nd").cast("double")
                                    / F.col("ntr").cast("double"))
                              * F.lit(1e6)).cast("long")
                      .alias("prior_micro")))
    dense = (vocab.crossJoin(F.broadcast(totals))
             .join(counts, ["t", label_col], "left")
             .crossJoin(F.broadcast(vsize))
             .select("t", label_col,
                     F.floor(F.log((F.coalesce(F.col("c"), F.lit(0))
                                    + F.lit(1)).cast("double")
                                   / (F.col("tot") + F.col("v"))
                                   .cast("double"))
                             * F.lit(1e6)).cast("long")
                     .alias("lc_micro")))
    test_t = (toks.where(~F.col("tr"))
              .groupBy(id_col, F.col("t")).agg(F.count("*").alias("m")))
    scores = (test_t
              .join(dense.withColumnRenamed(label_col, "cand"), "t")
              .groupBy(id_col, "cand")
              .agg(F.sum(F.col("m") * F.col("lc_micro")).alias("s")))
    full = (scores
            .join(priors.withColumnRenamed(label_col, "cand")
                  .withColumnRenamed("prior_micro", "pm"), "cand")
            .select(id_col, "cand", (F.col("s") + F.col("pm")).alias("sc")))
    pred = (full.groupBy(id_col)
            .agg(F.min(F.struct((-F.col("sc")).alias("ns"),
                                F.col("cand"))).alias("m"))
            .select(id_col, F.col("m.cand").alias("pred_label")))
    truth = docs.where(~F.col("tr")).select(id_col,
                                            F.col(label_col)
                                            .alias("true_label"))
    return (truth.join(pred, id_col)
            .groupBy("true_label", "pred_label")
            .agg(F.count("*").cast("long").alias("n_docs")))


# ln((1+alpha)/(1-alpha)) at alpha = 0.01, floored nano — injected as
# the SAME integer literal into the Spark expression and the DuckDB
# oracle so the bucket boundary is one shared constant, not two libms
DDSKETCH_LNG_NANO = 20000666


def ddsketch(df: DataFrame, group_col: str = "source",
             value_col: str = "n_chars") -> DataFrame:
    """The DDSketch itself: per-(group, log-bucket) counts with
    ``bucket = floor(ln(v)*1e9) DIV LNG`` — the mergeable state
    (merge = per-bucket count sum), shared by the batch quantile
    read-off (:func:`ddsketch_quantiles`) and the streaming sink
    gate (a plain streaming groupBy count in complete mode; counts
    are associative + commutative so the finite stream's final table
    equals this batch table row for row).  Values < 1 are outside
    the log domain and excluded."""
    b = (F.floor(F.log(F.col(value_col).cast("double")) * F.lit(1e9))
         .cast("long"))
    bucket = F.expr(f"_b DIV {int(DDSKETCH_LNG_NANO)}")
    return (df.where(F.col(value_col) >= 1)
            .withColumn("_b", b)
            .select(group_col, bucket.cast("long").alias("bucket"))
            .groupBy(group_col, "bucket").agg(F.count("*").alias("n_b")))


def ddsketch_quantiles(df: DataFrame, group_col: str = "source",
                       value_col: str = "n_chars",
                       ps: tuple = (50, 90, 99)) -> DataFrame:
    """DDSketch-style relative-error quantiles: values land in
    logarithmic buckets ``floor(ln(v)*1e9) DIV LNG`` (LNG =
    ``floor(ln((1+a)/(1-a))*1e9)``, a = 1%), so any two values in one
    bucket differ by at most ~2% — the mergeable quantile sketch of
    the DataDog paper, the relative-error complement of q138's
    fixed-width histogram.  The sketch is just per-(group, bucket)
    counts: merging shards = summing counts (pytest proves it).

    The quantile read-off is exact integer arithmetic over the
    sketch: rank ``ceil(p*n/100) = (p*n + 99) DIV 100``, answer = the
    smallest bucket whose running count reaches the rank (one window
    cumsum, min-filter).  Values < 1 are excluded (log domain) and
    reported via n; n_chars >= 1 throughout the corpus.

    Scale shape: one (group, bucket) count shuffle — bucket count is
    ~log(range)/alpha regardless of data volume — then window ops on
    the sketch only.  Returns per (group, p): ``(group, p, n, rank,
    bucket, cum_n)``."""
    sk = ddsketch(df, group_col=group_col, value_col=value_col)
    w = (Window.partitionBy(group_col).orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = (sk.withColumn("cum_n", F.sum("n_b").over(w))
           .withColumn("n", F.sum("n_b").over(
               Window.partitionBy(group_col).rowsBetween(
                   Window.unboundedPreceding,
                   Window.unboundedFollowing))))
    parts = []
    for p in ps:
        rank = F.expr(f"({int(p)} * n + 99) DIV 100")
        hit = (cum.withColumn("rank", rank)
               .where(F.col("cum_n") >= F.col("rank"))
               .groupBy(group_col)
               .agg(F.min(F.struct("bucket", "cum_n", "rank", "n"))
                    .alias("m"))
               .select(group_col, F.lit(int(p)).cast("long").alias("p"),
                       F.col("m.n").cast("long").alias("n"),
                       F.col("m.rank").cast("long").alias("rank"),
                       F.col("m.bucket").alias("bucket"),
                       F.col("m.cum_n").cast("long").alias("cum_n")))
        parts.append(hit)
    out = reduce(DataFrame.unionByName, parts)
    return out


def map_mrr_eval(df: DataFrame, queries: dict, k: int = 10,
                 rel_levels: int = 4, rel_min: int = 2,
                 id_col: str = "doc_id", text_col: str = "text"
                 ) -> DataFrame:
    """MRR / MAP retrieval evaluation — the binary-relevance
    companion to q258's graded nDCG, over the SAME BM25 rankings and
    the SAME deterministic relevance hash (``rel = pmod(
    xxhash64(doc_id*31 + qid), rel_levels)``), binarized at
    ``rel >= rel_min``.  Unlike nDCG there is no logarithm anywhere:
    reciprocal rank and average precision are pure integer DIV
    compositions, so the gate is exact without any ln assumption —
    ``rr_micro = 1000000 DIV first_rank`` and ``ap_micro =
    (sum over relevant positions of (1000000 * cum_rel) DIV pos)
    DIV n_rel``.  No relevant doc in the top-k => first_rank = 0 and
    both metrics 0 (sentinel, never NULL).

    Scale shape: one bm25_topk per query (term-filtered explode +
    TakeOrdered); the metric arithmetic runs on queries x k rows.
    Returns ``(qid, n_ranked, n_rel, first_rank, rr_micro,
    ap_micro)``."""
    from pyspark.sql import Window as W

    parts = []
    for qid, terms in sorted(queries.items()):
        top = bm25_topk(df, list(terms), k=k, id_col=id_col,
                        text_col=text_col)
        wr = W.orderBy(F.desc("score_nano"), F.asc(id_col))
        parts.append(top.withColumn("pos", F.row_number().over(wr))
                     .select(F.lit(int(qid)).cast("long").alias("qid"),
                             F.col(id_col).alias("doc_id"), "pos"))
    ranked = reduce(DataFrame.unionByName, parts)
    rel = (F.pmod(F.xxhash64(F.col("doc_id") * F.lit(31) + F.col("qid")),
                  F.lit(int(rel_levels))) >= F.lit(int(rel_min))) \
        .cast("long")
    wq = (W.partitionBy("qid").orderBy("pos")
          .rowsBetween(W.unboundedPreceding, 0))
    g = (ranked.withColumn("r", rel)
         .withColumn("cum_rel", F.sum("r").over(wq))
         .withColumn("prec_term",
                     F.when(F.col("r") == 1,
                            F.expr("(1000000 * cum_rel) DIV pos"))
                     .otherwise(F.lit(0)).cast("long")))
    return (g.groupBy("qid")
            .agg(F.count("*").cast("long").alias("n_ranked"),
                 F.sum("r").cast("long").alias("n_rel"),
                 F.coalesce(F.min(F.when(F.col("r") == 1, F.col("pos"))),
                            F.lit(0)).cast("long").alias("first_rank"),
                 F.sum("prec_term").alias("ap_sum"))
            .select("qid", "n_ranked", "n_rel", "first_rank",
                    F.when(F.col("first_rank") > 0,
                           F.expr("1000000 DIV first_rank"))
                    .otherwise(F.lit(0)).cast("long").alias("rr_micro"),
                    F.when(F.col("n_rel") > 0,
                           F.expr("ap_sum DIV n_rel"))
                    .otherwise(F.lit(0)).cast("long").alias("ap_micro")))


def isotonic_calibration(df: DataFrame, bucket_width: int = 100,
                         max_bucket: int = 50, lang_val: str = "en",
                         len_col: str = "n_chars", lang_col: str = "lang"
                         ) -> DataFrame:
    """Weighted isotonic regression (PAVA) of P(lang = en | length
    bucket) — the monotone calibration primitive every scored-data
    pipeline needs (quality-score -> keep-rate curves, CTR
    calibration): bucket documents by length, take the empirical
    positive rate per bucket, and fit the best NON-DECREASING curve
    in weighted least squares, which pool-adjacent-violators solves
    exactly.

    Exactness: a pooled block's fit is the exact rational
    ``sum(pos) / sum(n)``; comparisons are integer cross products
    (never a float), and the emitted ``fit_micro = (1e6 * p) DIV q``
    depends only on the block VALUE — which is why the oracle can
    derive the same integers from the completely independent MINIMAX
    characterization ``fit(i) = max_{a<=i} min_{b>=i} avg(a..b)``
    (the classical identity) instead of replaying the PAVA stack:
    two derivations, one answer.

    Scale shape: one bucket-count shuffle reduces the corpus to
    <= max_bucket+1 rows; PAVA runs on that bucket table inside a
    single Arrow batch (bucket-sized, not data-sized — the same
    budget as collecting a histogram).  Returns ``(bucket, n,
    pos_n, fit_micro)``."""
    import numpy as np
    import pandas as pd

    b = F.least(F.expr(f"{len_col} DIV {int(bucket_width)}"),
                F.lit(int(max_bucket)).cast("long"))
    agg = (df.groupBy(b.alias("bucket"))
           .agg(F.count("*").alias("n"),
                F.sum((F.col(lang_col) == lang_val).cast("long"))
                .alias("pos_n")))

    def _pava(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        p = pdf["pos_n"].to_numpy(np.int64)
        q = pdf["n"].to_numpy(np.int64)
        blocks = []          # [P, Q, count]
        for i in range(len(pdf)):
            blocks.append([int(p[i]), int(q[i]), 1])
            while (len(blocks) >= 2
                   and blocks[-2][0] * blocks[-1][1]
                   > blocks[-1][0] * blocks[-2][1]):
                b2 = blocks.pop()
                blocks[-1][0] += b2[0]
                blocks[-1][1] += b2[1]
                blocks[-1][2] += b2[2]
        fits = np.concatenate([
            np.full(c, (1000000 * P) // Q, dtype=np.int64)
            for (P, Q, c) in blocks]) if blocks else \
            np.array([], dtype=np.int64)
        return pd.DataFrame({"bucket": pdf["bucket"], "n": pdf["n"],
                             "pos_n": pdf["pos_n"], "fit_micro": fits})

    return (agg.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(_pava, "bucket long, n long, pos_n long,"
                                  " fit_micro long"))


def kmv_intersect(df: DataFrame, group: str = "source", k: int = 64,
                  text_col: str = "text") -> DataFrame:
    """Pairwise KMV set-intersection audit — the sketch-level Jaccard
    estimator (Beyer et al.): for every unordered pair of groups,
    take the k smallest hashes of the UNION of the two groups' k-min
    sketches and count how many are present in BOTH sketches;
    ``n_both / k_used`` estimates the token-set Jaccard without ever
    joining the raw vocabularies — the pairwise companion of q47's
    per-group estimate and q74's global merge, and the sketch-cheap
    alternative to q179's exact divergence scan.

    Exactness under the gate: hashes are the shared Horner+splitmix
    integers (q47's replica), the k-min re-ranking is unsigned-order
    row_number, and every emitted quantity is an integer (counts +
    the signed kth hash).

    Scale shape: the per-group sketches are one token shuffle
    (kmv_sketch_rows); everything pairwise runs on <= |pairs| * 2k
    sketch ROWS (never raw data) with the pair list broadcast.
    Returns ``(ga, gb, k_used, n_both, kth_hash)``."""
    from . import cache

    sk = (kmv_sketch_rows(df, group=group, text_col=text_col, k=k)
          .persist())
    gs = sk.select(F.col(group).alias("g")).distinct()
    pairs = (gs.alias("a").join(gs.alias("b"),
                                F.col("a.g") < F.col("b.g"))
             .select(F.col("a.g").alias("ga"), F.col("b.g").alias("gb")))
    ra = (sk.join(F.broadcast(pairs), F.col(group) == F.col("ga"))
          .select("ga", "gb", "h", F.lit(1).alias("ia"),
                  F.lit(0).alias("ib")))
    rb = (sk.join(F.broadcast(pairs), F.col(group) == F.col("gb"))
          .select("ga", "gb", "h", F.lit(0).alias("ia"),
                  F.lit(1).alias("ib")))
    un = (ra.unionByName(rb)
          .groupBy("ga", "gb", "h")
          .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib")))
    ub = F.col("h").bitwiseXOR(F.lit(-(1 << 63)))
    w = Window.partitionBy("ga", "gb").orderBy(ub.asc())
    rk = (un.withColumn("rn", F.row_number().over(w))
          .where(F.col("rn") <= int(k)))
    out = (rk.groupBy("ga", "gb")
           .agg(F.count("*").cast("long").alias("k_used"),
                F.sum(F.col("ia") * F.col("ib")).cast("long")
                .alias("n_both"),
                F.max(ub).alias("_mx"))
           .select("ga", "gb", "k_used", "n_both",
                   F.col("_mx").bitwiseXOR(F.lit(-(1 << 63)))
                   .cast("long").alias("kth_hash")))
    return cache.track(out, [sk])


def perm_test(df: DataFrame, n_perm: int = 20, label_col: str = "lang",
              label_val: str = "en", value_col: str = "n_chars",
              id_col: str = "doc_id") -> DataFrame:
    """Deterministic random-labeling permutation test: is the mean
    ``value_col`` of the ``label_val`` group explainable by chance?
    Each pseudo-permutation relabels documents by a seeded hash
    (``pmod(xxhash64(id * (2i+1)), 1000) < t`` with t matching the
    observed group rate), recomputes the group sum, and the p-value
    numerator is how many pseudo-groups have mean >= the observed
    mean — compared as EXACT INTEGER CROSS PRODUCTS
    (``s*obs_n >= obs_s*n``), never a float division, so unequal
    pseudo-group sizes cost nothing.  Hash relabeling makes the
    "permutations" reproducible and oracle-replayable — the same
    move as q258's hash relevance and q232's half-sample bootstrap
    (which resamples the statistic; this resamples the LABELS).

    Scale shape: ONE map-only pass computes all ``2*n_perm + 2``
    conditional sums in a single aggregate row (no explode, no
    shuffle beyond the 1-row aggregate); the per-perm table is
    unpivoted from that row.  Returns ``(perm_id, n, s, ge)`` with
    perm_id -1 = the observed labeling (ge vacuously 1)."""
    obs = (F.col(label_col) == label_val).cast("long")
    aggs = [F.sum(obs).alias("obs_n"),
            F.sum(obs * F.col(value_col)).alias("obs_s")]
    for i in range(int(n_perm)):
        m = 2 * i + 1
        h = F.pmod(F.xxhash64(F.col(id_col) * F.lit(m)), F.lit(1000))
        aggs.append(F.sum(F.when(h < F.col("_t"), 1).otherwise(0))
                    .cast("long").alias(f"n{i}"))
        aggs.append(F.sum(F.when(h < F.col("_t"), F.col(value_col))
                          .otherwise(0)).cast("long").alias(f"s{i}"))
    nobs = df.agg(F.sum(obs).alias("n_en"), F.count("*").alias("nn"))
    t = F.expr("(1000 * n_en) DIV nn")
    # materialize the 1-row aggregate ONCE (21 selects follow — without
    # this each would rescan the corpus)
    wide = (df.crossJoin(F.broadcast(nobs.select(t.alias("_t"))))
            .agg(*aggs).coalesce(1).localCheckpoint(eager=True))
    parts = [wide.select(F.lit(-1).cast("long").alias("perm_id"),
                         F.col("obs_n").cast("long").alias("n"),
                         F.col("obs_s").cast("long").alias("s"),
                         F.lit(1).cast("long").alias("ge"))]
    for i in range(int(n_perm)):
        parts.append(wide.select(
            F.lit(i).cast("long").alias("perm_id"),
            F.col(f"n{i}").alias("n"), F.col(f"s{i}").alias("s"),
            F.when(F.col(f"s{i}") * F.col("obs_n")
                   >= F.col("obs_s") * F.col(f"n{i}"), 1)
            .otherwise(0).cast("long").alias("ge")))
    out = reduce(DataFrame.unionByName, parts)
    return out


def curation_funnel(df: DataFrame, lang_val: str = "en",
                    len_min: int = 100, len_max: int = 500,
                    quota: int = 100) -> DataFrame:
    """The corpus-curation funnel, end to end: how many documents
    survive each stage of the standard training-data pipeline —
    exact dedup (min doc_id per identical text), language filter,
    length window, and a deterministic per-source quota (q72's
    xxhash rank rule) — composed IN SEQUENCE, because stage
    interactions (dedup removing mostly long docs, quota binding
    only for some sources) are exactly what the per-operator gates
    q12/q15/q88/q72 cannot see.

    Exactness: every stage is a deterministic filter (window min,
    equality, range, hash rank); every emitted number is a count.
    Scale shape: dedup is the one content-keyed shuffle; lang/length
    are map-side; the quota is one source-keyed rank window on the
    already-thinned survivors.  Returns ``(stage, stage_name,
    n_docs)``, stages 0-4."""
    w = Window.partitionBy("text")
    s1 = (df.withColumn("_mid", F.min("doc_id").over(w))
          .where(F.col("doc_id") == F.col("_mid")).drop("_mid"))
    s2 = s1.where(F.col("lang") == lang_val)
    s3 = s2.where((F.col("n_chars") >= int(len_min))
                  & (F.col("n_chars") <= int(len_max)))
    wq = Window.partitionBy("source").orderBy(
        F.pmod(F.xxhash64("doc_id"), F.lit(1000000)).asc(),
        F.col("doc_id").asc())
    s4 = (s3.withColumn("_rk", F.row_number().over(wq))
          .where(F.col("_rk") <= int(quota)))
    parts = []
    for i, (name, frame) in enumerate(
            (("raw", df), ("dedup", s1), ("lang", s2),
             ("length", s3), ("quota", s4))):
        parts.append(frame.agg(F.count("*").cast("long").alias("n_docs"))
                     .select(F.lit(i).cast("long").alias("stage"),
                             F.lit(name).alias("stage_name"), "n_docs"))
    out = reduce(DataFrame.unionByName, parts)
    return out


def eb_shrunk_rates(df: DataFrame, group: str = "source",
                    label_col: str = "lang", label_val: str = "en",
                    m: int = 20) -> DataFrame:
    """Empirical-Bayes shrunk group rates — the small-area estimation
    move (add ``m`` pseudo-observations at the GLOBAL rate) that
    keeps a 3-document source from reporting a 100% rate: ``shrunk =
    (x + m * P/Q) / (n + m)`` with P/Q the exact global fraction,
    emitted as the exact integer ``((x*Q + m*P) * 1e6) DIV
    ((n+m)*Q)`` — no float touches the chain, so tiny and huge
    groups gate identically.  The raw rate rides along for the
    shrinkage delta.

    Scale shape: one group aggregate + a 1-row global broadcast —
    map-side partials, one exchange.  Returns ``(group, n, x,
    raw_micro, shrunk_micro)``."""
    pos = (F.col(label_col) == label_val).cast("long")
    g = (df.groupBy(group)
         .agg(F.count("*").alias("n"), F.sum(pos).alias("x")))
    tot = g.agg(F.sum("x").alias("p"), F.sum("n").alias("q"))
    return (g.crossJoin(F.broadcast(tot))
            .select(group, F.col("n").cast("long"),
                    F.col("x").cast("long"),
                    F.expr("(x * 1000000) DIV n").cast("long")
                    .alias("raw_micro"),
                    F.expr(f"((x * q + {int(m)} * p) * 1000000) DIV "
                           f"((n + {int(m)}) * q)").cast("long")
                    .alias("shrunk_micro")))


def fdr_screen(df: DataFrame, n_perm: int = 199, group: str = "source",
               value_col: str = "n_chars", id_col: str = "doc_id",
               alpha_num: int = 1, alpha_den: int = 20) -> DataFrame:
    """Benjamini-Hochberg FDR screen over per-group permutation
    tests — the multiple-testing control layer every per-group audit
    in this engine quietly needs (20 sources tested at alpha = 0.05
    expect one false "anomalous mean length" by chance; BH is the
    standard fix).  199 permutations by default: with n_perm = 20 the
    smallest reachable p-value (1/21) can never clear alpha/m for
    m = 20 groups, so the screen would be vacuously all-negative —
    the resolution of a permutation p-value must match the BH bar it
    feeds.  Each group's one-sided p-value comes from the
    q295 machinery: ``p = k / (n_perm + 1)`` with ``k = 1 + #{perms
    whose pseudo-group mean >= the observed group mean}`` — so every
    p-value is a rational with the SAME denominator, and the whole
    BH chain (sort ascending, reject ranks up to the largest r with
    ``p_(r) <= r * alpha / m``) runs as integer cross products:
    ``k * alpha_den * m <= r * alpha_num * (n_perm + 1)``.  No float
    anywhere.

    One shared hash per (doc, perm) serves every group: the pseudo-
    group for group g is ``hash < t_g`` with ``t_g`` g's observed
    rate, so the perm x group expansion filters to ~docs x perms
    rows total (the thresholds sum to ~1).

    Scale shape: one doc x perm explode -> threshold semi-join ->
    (group, perm) aggregate; the BH walk is two windows on the
    group-sized frame.  Returns ``(group, n, k, rank, rejected)``."""
    g = (df.groupBy(group)
         .agg(F.count("*").alias("gn"),
              F.sum(F.col(value_col)).alias("gs")))
    tot = df.agg(F.count("*").alias("nn"))
    th = (g.crossJoin(F.broadcast(tot))
          .select(F.col(group).alias("gg"), "gn", "gs",
                  F.expr("(1000 * gn) DIV nn").alias("t")))
    perms = F.explode(F.array(*[F.lit(2 * i + 1)
                                for i in range(int(n_perm))])).alias("m")
    dp = (df.select(F.col(id_col).alias("did"),
                    F.col(value_col).alias("v"))
          .select("did", "v", perms)
          .withColumn("h", F.pmod(F.xxhash64(F.col("did") * F.col("m")),
                                  F.lit(1000))))
    pm = (dp.join(F.broadcast(th), dp["h"] < th["t"])
          .groupBy("gg", "m")
          .agg(F.count("*").alias("pn"), F.sum("v").alias("ps"),
               F.max("gn").alias("gn"), F.max("gs").alias("gs")))
    ks = (pm.withColumn("ge", (F.col("ps") * F.col("gn")
                               >= F.col("gs") * F.col("pn"))
                        .cast("long"))
          .groupBy("gg")
          .agg((F.lit(1) + F.sum("ge")).cast("long").alias("k"),
               F.max("gn").cast("long").alias("n")))
    m_groups = g.agg(F.count("*").alias("mg"))
    w = Window.orderBy(F.col("k").asc(), F.col("gg").asc())
    ranked = (ks.crossJoin(F.broadcast(m_groups))
              .withColumn("rank", F.row_number().over(w).cast("long"))
              .withColumn("ok", (F.col("k") * F.lit(int(alpha_den))
                                 * F.col("mg")
                                 <= F.col("rank")
                                 * F.lit(int(alpha_num))
                                 * F.lit(int(n_perm) + 1))
                          .cast("long")))
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    rstar = F.max(F.when(F.col("ok") == 1, F.col("rank"))).over(wall)
    return (ranked.withColumn("rejected",
                              F.when(F.col("rank")
                                     <= F.coalesce(rstar, F.lit(0)), 1)
                              .otherwise(0).cast("long"))
            .select(F.col("gg").alias(group), "n", "k", "rank",
                    "rejected"))


def cdc_chunks(df: DataFrame, window: int = 8, mask_mod: int = 64,
               id_col: str = "doc_id", text_col: str = "text"
               ) -> DataFrame:
    """Content-defined chunking (CDC) census — the storage-layer
    dedup primitive (rsync/LBFS/backup dedup): a chunk boundary
    falls wherever the ``window``-byte Horner rolling hash is 0 mod
    ``mask_mod`` (expected chunk ~mask_mod bytes), so an insertion
    shifts ONE chunk instead of re-chunking the document — the
    property fixed-width chunking (q163) fundamentally lacks.
    Boundaries are a pure per-position function (no minimum-length
    state), so chunking is embarrassingly parallel and the oracle
    can recompute every boundary declaratively.

    The hash is the engine's shared FNV-prime Horner base (same
    power table as the q17/q47 token hashes) over raw byte codes;
    ASCII corpus assumed (documented — a multibyte char would read
    differently as bytes vs code points).

    Scale shape: one Arrow pass chunks each doc (the 8 shifted
    vector products per row are numpy-vectorized); one chunk-keyed
    census shuffle.  Returns one row ``(n_docs, n_chunks,
    n_distinct, n_shared, max_df, sum_len)`` — n_shared counts
    chunk contents appearing in >= 2 distinct docs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType

    B = 1099511628211
    pows = np.zeros(window, dtype=np.uint64)
    p = 1
    for j in range(window):
        pows[j] = p
        p = (p * B) % (1 << 64)

    @F.pandas_udf(ArrayType(StringType()))
    def _chunks(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            bs = np.frombuffer(t.encode("utf-8"), dtype=np.uint8) \
                .astype(np.uint64)
            n = len(bs)
            if n == 0:
                out.append([])
                continue
            if n >= window:
                h = np.zeros(n - window + 1, dtype=np.uint64)
                # H at end-position i (1-based i = window..n):
                # sum_j byte[i-j] * B^j  (j = 0..window-1)
                for j in range(window):
                    h += pows[j] * bs[window - 1 - j:n - j]
                ends = (np.nonzero(h % np.uint64(mask_mod) == 0)[0]
                        + window).tolist()
            else:
                ends = []
            pts = [0] + ends
            if not ends or ends[-1] != n:
                pts.append(n)
            out.append([t[s:e] for s, e in zip(pts, pts[1:])])
        return pd.Series(out)

    ch = (df.select(F.col(id_col).alias("did"),
                    F.explode(_chunks(F.col(text_col))).alias("ck")))
    per = (ch.groupBy("ck")
           .agg(F.count("*").alias("n"),
                F.count_distinct("did").alias("dfd"),
                F.max(F.length("ck")).alias("ln")))
    ndocs = df.agg(F.count("*").alias("n_docs"))
    return (per.agg(F.sum("n").cast("long").alias("n_chunks"),
                    F.count("*").cast("long").alias("n_distinct"),
                    F.sum((F.col("dfd") >= 2).cast("long")).cast("long")
                    .alias("n_shared"),
                    F.max("dfd").cast("long").alias("max_df"),
                    F.sum(F.col("n") * F.col("ln")).cast("long")
                    .alias("sum_len"))
            .crossJoin(F.broadcast(ndocs))
            .select(F.col("n_docs").cast("long"), "n_chunks",
                    "n_distinct", "n_shared", "max_df", "sum_len"))
