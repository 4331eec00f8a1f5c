"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, O(Q·N), fine when the
query set is bounded and the corpus fits a broadcast-or-shuffle join.
Scale path: IVF-style partition pruning — assign vectors to coarse
centroids, search only the probed cells — cutting the candidate set by
the cell count. Both are pure DataFrame ops (array math via
zip_with/aggregate is JVM-side; no Python in the hot path).

Determinism note: ``cosine`` folds the array sequentially
(left-to-right), matching DuckDB's list evaluation, so scores are
bit-identical across engines for identical float inputs.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from aggregation_duckdb_spark.runtime import ensure_parallelism, materialize


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _seqsum(x: np.ndarray) -> np.ndarray:
    """Left-to-right chained adds along the LAST axis from a +0.0
    seed — the exact IEEE operation sequence of the JVM fold
    ``aggregate(arr, 0.0, acc + x)``. numpy's own ``sum`` would
    pairwise-split (ulp drift vs the fold); the +0.0 seed also maps a
    leading -0.0 to +0.0 exactly as the fold's 0.0 seed does. This is
    what keeps every Arrow-vectorized scoring path bit-identical to
    its JVM expression twin and to the DuckDB oracles."""
    acc = x[..., 0] + 0.0
    for p in range(1, x.shape[-1]):
        acc = acc + x[..., p]
    return acc


def _fold_dots(v: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n, d) × (k, d) → (n, k) dot products with the JVM fold's
    exact summation order: acc = ((0.0 + x0) + x1) + …, xp = vp·cp.
    Deliberately NOT a BLAS matmul — GEMM blocks/FMA-reassociates the
    sum, which would drift from the oracle by ulps. Accumulating one
    component at a time also avoids the (n, k, d) product temporary
    (memory bandwidth, not flops, dominates that shape)."""
    acc = v[:, 0, None] * c[None, :, 0] + 0.0
    for p in range(1, v.shape[1]):
        acc = acc + v[:, p, None] * c[None, :, p]
    return acc


def _fold_sqdists(v: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n, d) × (k, d) → (n, k) squared L2 distances, same fold order
    and no-giant-temporary shape as :func:`_fold_dots`; the square is
    an explicit multiply (never ``** 2`` — pow is not correctly
    rounded across libms)."""
    d0 = v[:, 0, None] - c[None, :, 0]
    acc = d0 * d0 + 0.0
    for p in range(1, v.shape[1]):
        dp = v[:, p, None] - c[None, :, p]
        acc = acc + dp * dp
    return acc


def _checked_vec(vec_col: str, dim: int, op: str) -> Column:
    """Enforce the fixed-dim non-null vector contract JVM-side,
    PATH-INDEPENDENTLY: null or wrong-length embeddings raise the
    same clean error whether the operator takes the small-codebook
    JVM expression path or the Arrow-batched path (previously the
    JVM path degraded to null scores while the Arrow path crashed in
    ``np.array`` with an inhomogeneous-shape error — same API, two
    failure modes depending on codebook size). The guard is a lazy
    CASE branch inside codegen — zero cost on valid rows — and fires
    before any Python worker sees a batch."""
    c = F.col(vec_col)
    return F.when(
        c.isNull() | (F.size(c) != F.lit(int(dim))),
        F.raise_error(F.concat(
            F.lit(f"{op}: {vec_col} must be a non-null {int(dim)}-"
                  f"element vector (fixed-dim non-null contract); "
                  f"got size="),
            F.when(c.isNull(), F.lit("NULL"))       # not size()'s -1:
            .otherwise(F.size(c).cast("string")))),  # legacy sizeOfNull
    ).otherwise(c)


def _argmax_nan_biggest(sims: np.ndarray) -> np.ndarray:
    """Row-wise argmax matching Spark's ``array_max(struct(sim,
    -cid))`` rule over candidates ordered by ASCENDING cid: highest
    sim wins, ties take the lowest cid, and NaN ranks above every
    double (Spark's ordering). ``np.argmax`` has exactly these
    semantics — first-hit on ties, first NaN when any is present."""
    return np.argmax(sims, axis=1)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k: broadcast the (bounded) query set against the
    corpus scan, score in-row, per-query window top-k. The corpus is
    never shuffled for the join; the only shuffle is the top-k window
    partitioned by query (use a bounded query set — this is the
    verification baseline for the ANN paths)."""
    # norms are per-VECTOR, not per-pair: compute each side's norm
    # once in its projection and multiply in the pair score — the
    # inline cosine re-folded both norms for every (query, neighbor)
    # pair, tripling the fold work of the scoring pass. Values are
    # IEEE-identical (same fold expressions over the same data, same
    # q-then-c multiply order), so oracle hashes are unaffected — the
    # embedding_near_duplicates_lsh precedent.
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qvec"),
                       norm(F.col(vec_col)).alias("__qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__cvec"),
                      norm(F.col(vec_col)).alias("__cn"))
    scored = (c.crossJoin(F.broadcast(q))
              .where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      (dot(F.col("__qvec"), F.col("__cvec"))
                       / (F.col("__qn") * F.col("__cn")))
                      .alias("cosine_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k))


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               vec_col: str = "embedding", id_col: str = "vec_id",
               centroid_id: str = "centroid_id",
               centroid_vec: str = "centroid",
               metric: str = "cosine") -> DataFrame:
    """Assign each vector to its nearest centroid — a ZERO-SHUFFLE
    map-side pass: the codebook is bounded (k·dim values), collected
    once, and scored in-row against every vector. (The alternative —
    crossJoin + per-id window — shuffles corpus×k rows to rank them;
    at corpus scale that shuffle IS the job.)  Ties break to the
    lowest centroid id. At scale, write the result partitioned by
    cell for pruned probes.

    ``metric``: 'cosine' (angular cells — the IVF search default) or
    'l2' (Euclidean cells — what Lloyd's mean-update step optimizes;
    REQUIRED for product quantization, where subvector magnitudes
    carry signal that cosine assignment would discard).

    Contract: ``vec_col`` must be NON-NULL and exactly the codebook's
    dimension on every row — a null or ragged vector raises the same
    clean error on both execution paths (:func:`_checked_vec`).

    Execution dispatches on codebook size, both paths BIT-IDENTICAL
    (measured mismatch-free; the DuckDB full-value oracle twins rely
    on it):

    - small codebooks (k < 32, e.g. the label-centroid oracles) fold
      the literal in-row exactly as before — JVM expression eval,
      no Python workers, and the interpreted-HOF cost is small at
      small k;
    - larger codebooks score Arrow batches against the model-sized
      closure (ArrowEvalPython — a map operator, zero shuffles,
      plan-pinned): the interpreted higher-order function scales
      linearly in k with a ~ms/row constant (at k=120/64-dim it runs
      10× slower than the Arrow path), and real IVF wants k in the
      hundreds-to-thousands (~√N cells) — at 100 TB the full-corpus
      assignment pass IS the index build's CPU bill.

    The Arrow arithmetic reproduces the JVM fold bit-for-bit:
    elementwise float64 products/squares (explicit multiply, never
    ``** 2`` — pow is not correctly rounded across libms),
    accumulated LEFT-TO-RIGHT from a +0.0 seed
    (:func:`_fold_dots`/:func:`_fold_sqdists` — numpy's own sum would
    pairwise-split), IEEE sqrt/divide, ties to the lowest centroid id
    (:func:`_argmax_nan_biggest` == the ``array_max(struct(sim,
    -cid))`` rule, NaN-biggest included)."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"ivf_assign: unknown metric {metric!r}")
    rows = centroids.select(F.col(centroid_id).alias("cid"),
                            F.col(centroid_vec).alias("cvec")).collect()
    if not rows:
        raise ValueError("ivf_assign: empty codebook")
    # fixed-dim non-null contract (dim = the codebook's): both paths
    # below raise the SAME error on null/ragged vectors (see
    # _checked_vec) instead of diverging by codebook size
    vec = _checked_vec(vec_col, len(rows[0]["cvec"]), "ivf_assign")

    if len(rows) < 32:
        lit = F.array(*[
            F.struct(
                F.lit(int(r["cid"])).cast("long").alias("cid"),
                F.array(*[F.lit(float(x)) for x in r["cvec"]])
                .alias("cvec"))
            for r in rows])
        # one score per centroid, staged per element; array_max
        # compares structs lexicographically → best score, then
        # max(-cid) = min cid
        if metric == "cosine":
            score = lambda c: cosine(vec, c["cvec"])  # noqa: E731
        else:
            score = lambda c: -F.aggregate(  # noqa: E731
                F.zip_with(vec, c["cvec"],
                           lambda a, b: (a.cast("double") - b)
                           * (a.cast("double") - b)),
                F.lit(0.0), lambda acc, x: acc + x)
        scored = F.transform(
            lit, lambda c: F.struct(
                score(c).alias("sim"),
                (-c["cid"]).alias("negcid")))
        best = F.array_max(scored)
        return corpus.select(F.col(id_col), F.col(vec_col),
                             (-best["negcid"]).alias(centroid_id))

    pairs = sorted((int(r["cid"]), [float(x) for x in r["cvec"]])
                   for r in rows)
    cids = np.array([c for c, _ in pairs], dtype=np.int64)
    cmat = np.array([v for _, v in pairs], dtype=np.float64)

    if metric == "cosine":
        cnorm = np.sqrt(_seqsum(cmat * cmat))

        @F.pandas_udf("long")
        def _best(vec: pd.Series) -> pd.Series:
            v = np.array(vec.tolist(), dtype=np.float64)
            dots = _fold_dots(v, cmat)
            vnorm = np.sqrt(_seqsum(v * v))
            sims = dots / (vnorm[:, None] * cnorm[None, :])
            return pd.Series(cids[_argmax_nan_biggest(sims)])
    else:
        @F.pandas_udf("long")
        def _best(vec: pd.Series) -> pd.Series:
            v = np.array(vec.tolist(), dtype=np.float64)
            sims = -_fold_sqdists(v, cmat)
            return pd.Series(cids[_argmax_nan_biggest(sims)])

    return corpus.select(F.col(id_col), F.col(vec_col),
                         _best(vec).alias(centroid_id))


def label_centroids(corpus: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Coarse centroids as the element-wise mean per label group —
    a cheap deterministic IVF codebook when a clustering column already
    exists (k-means is a drop-in replacement at scale)."""
    row = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        raise ValueError("label_centroids: corpus is empty — cannot "
                         "infer the embedding dimension")
    dim = row["d"]
    comps = [F.avg(F.element_at(F.col(vec_col), i).cast("double")).alias(f"__c{i}")
             for i in range(1, dim + 1)]
    per_label = corpus.groupBy(F.col(label_col).alias("centroid_id")).agg(*comps)
    return per_label.select(
        "centroid_id",
        F.array(*[F.col(f"__c{i}") for i in range(1, dim + 1)]).alias("centroid"))


#: fixed-point scale for exact centroid math: 1e6 keeps six decimal
#: digits of a float32 component, and a 2^53-safe sum up to ~9e9 rows.
CENTROID_SCALE = 1_000_000


def label_centroids_exact(corpus: DataFrame, vec_col: str = "embedding",
                          label_col: str = "label",
                          id_col: str = "vec_id") -> DataFrame:
    """Per-label centroids in long form (label, component position,
    count, mean) with ORDER-INDEPENDENT math, unlike the float-avg
    ``label_centroids``: each component is rounded to fixed-point
    (×CENTROID_SCALE, half-away-from-zero — identical in Spark and
    DuckDB), summed exactly as int64, and divided back at the end.
    Integer addition commutes, so any partitioning/merge order yields
    the same bits, and the final two IEEE double ops (sum/count, then
    /scale) are deterministic given exact integer inputs — the result
    hash-matches an oracle engine bit-for-bit.

    Shape for scale: posexplode → partial-agg groupBy(label, pos);
    one shuffle keyed on (label, pos) — dim× fan-out but fixed-width
    rows, and the map-side combine reduces each partition to
    |labels|·dim rows before the exchange."""
    ex = corpus.select(F.col(label_col).alias("centroid_id"),
                       F.posexplode(F.col(vec_col)).alias("pos0", "comp"))
    scaled = F.round(F.col("comp").cast("double") * CENTROID_SCALE) \
        .cast("long")
    return (ex.groupBy("centroid_id", (F.col("pos0") + 1).alias("pos"))
            .agg(F.count(F.lit(1)).alias("n_vectors"),
                 F.sum(scaled).alias("__s"))
            .select("centroid_id", "pos", "n_vectors",
                    ((F.col("__s").cast("double") / F.col("n_vectors"))
                     / CENTROID_SCALE).alias("mean_value")))


def md5_sample(corpus: DataFrame, cap: int, id_col: str = "vec_id",
               salt: str = "fit-sample") -> DataFrame:
    """Deterministic ~``cap``-row sample: keep rows whose salted
    md5(id) — read as a uniform fraction in [0, 1) from the first 60
    hash bits — falls below cap/count. Engine- and partitioning-
    independent (the same ids survive on any cluster), unlike
    ``DataFrame.sample``'s partition-seeded RNG. One column-pruned
    COUNT decides the threshold; corpora at or under the cap pass
    through UNCHANGED (bit-identical downstream results at test
    scale)."""
    n = corpus.count()
    if n <= cap:
        return corpus
    frac = (F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(salt),
                          F.col(id_col).cast("string"))), 1, 15),
        16, 10).cast("double") / float(1 << 60))
    return corpus.where(frac < cap / n)


def kmeans_fit(corpus: DataFrame, k: int = 16, max_iters: int = 10,
               vec_col: str = "embedding", id_col: str = "vec_id",
               min_shift: float = 1e-7,
               metric: str = "cosine",
               fit_sample_cap: int | None = 50_000) -> DataFrame:
    """Distributed Lloyd's k-means — the IVF codebook trainer
    (geometry-driven cells, unlike :func:`label_centroids` which needs
    a pre-existing clustering column).

    Deterministic end to end: init picks the k vectors with the
    smallest salted md5(id) (engine- and order-independent), and each
    update recomputes means in fixed-point int64 (the
    :func:`label_centroids_exact` trick) so any partitioning yields
    identical bits — rerunning the fit reproduces the codebook exactly.

    Scale shape per iteration: one zero-shuffle assignment pass
    (:func:`ivf_assign` folds the codebook literal in-row), then one
    groupBy(cell, pos) with map-side combine; only k·dim aggregate rows
    ever reach the driver (like the CC convergence probe — bounded by
    the model size, not the data). Empty cells keep their previous
    centroid. Iteration stops at ``max_iters`` or when no component
    moves more than ``min_shift``.

    ``fit_sample_cap`` bounds the FIT cost independently of corpus
    size: Lloyd iterations run on a deterministic :func:`md5_sample`
    of at most that many vectors (codebook quality needs a
    representative sample, not the population — the FAISS train-on-
    subset rule), and the FULL corpus is then assigned against the
    sampled codebook by the caller (:func:`ivf_assign` /
    :func:`write_ivf_index`) exactly as before. Corpora at or under
    the cap fit on everything — bit-identical to the uncapped fit.
    ``None`` disables the cap."""
    spark = corpus.sparkSession
    if fit_sample_cap is not None:
        sampled = md5_sample(corpus, fit_sample_cap, id_col)
        if sampled is not corpus:
            # pin the sample: a lazy where() would re-scan the FULL
            # corpus every Lloyd iteration — the flat-fit claim needs
            # iterations to touch only the ~cap sampled rows
            corpus = materialize(sampled.select(F.col(id_col),
                                                F.col(vec_col)))
    seed_rows = (corpus
                 .select(F.col(id_col), F.col(vec_col))
                 .orderBy(F.md5(F.concat_ws("|", F.lit("kmeans-init"),
                                            F.col(id_col).cast("string"))),
                          F.col(id_col))
                 .limit(k).collect())
    if not seed_rows:
        raise ValueError("kmeans_fit: corpus is empty")
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in r[vec_col]]) for i, r in enumerate(seed_rows)]
    for _ in range(max_iters):
        cdf = spark.createDataFrame(
            cents, "centroid_id long, centroid array<double>")
        assigned = ivf_assign(corpus, cdf, vec_col, id_col, metric=metric)
        stats = (assigned
                 .select("centroid_id",
                         F.posexplode(F.col(vec_col)).alias("pos", "comp"))
                 .groupBy("centroid_id", "pos")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.round(F.col("comp").cast("double")
                                    * CENTROID_SCALE).cast("long")).alias("s"))
                 .collect())
        by_cid: dict[int, dict[int, float]] = {}
        for r in stats:
            by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = (
                (r["s"] / r["n"]) / CENTROID_SCALE)
        shift = 0.0
        new_cents = []
        for cid, old in cents:
            comps = by_cid.get(cid)
            if comps:
                new = [comps[p] for p in sorted(comps)]
                shift = max(shift, max(abs(a - b) for a, b in zip(old, new)))
            else:
                new = old
            new_cents.append((cid, new))
        cents = new_cents
        if shift <= min_shift:
            break
    return spark.createDataFrame(
        cents, "centroid_id long, centroid array<double>")


def ivf_topk(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int = 10, n_probe: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF search: score queries against centroids, probe the n_probe
    nearest cells, brute-force only within those cells. The pruned join
    is (query, cell)⋈(corpus, cell) — candidate count drops by
    ~n_probe/num_cells versus brute force."""
    cents = centroids.select(F.col("centroid_id").alias("__cid"),
                             F.col("centroid").alias("__cvec"))
    assigned = ivf_assign(corpus, centroids, vec_col, id_col)
    # per-vector norms hoisted out of the per-pair score (the
    # brute_force_topk rule): the query norm rides the probe list,
    # the corpus norm is computed once per row in the cell scan —
    # IEEE-identical values, a third of the fold work per candidate
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qvec"),
                       norm(F.col(vec_col)).alias("__qn"))
    qprobe = (q.crossJoin(F.broadcast(cents))
              .select("query_id", "__qvec", "__qn", "__cid",
                      (dot(F.col("__qvec"), F.col("__cvec"))
                       / (F.col("__qn") * norm(F.col("__cvec"))))
                      .alias("__sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"), F.asc("__cid"))
    probes = (qprobe.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= n_probe)
              .select("query_id", "__qvec", "__qn",
                      F.col("__cid").alias("centroid_id")))
    scored = (assigned.withColumn("__cn", norm(F.col(vec_col)))
              .join(F.broadcast(probes), "centroid_id")
              .where(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      (dot(F.col("__qvec"), F.col(vec_col))
                       / (F.col("__qn") * F.col("__cn")))
                      .alias("cosine_sim")))
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(wk).cast("long"))
            .where(F.col("rank") <= k))


def embedding_near_duplicates(corpus: DataFrame, threshold: float = 0.99,
                              vec_col: str = "embedding",
                              id_col: str = "vec_id") -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold),
    EXACT all-pairs form: plans as a nested-loop O(N²) join — keep this
    strictly as the small-N verification baseline (recall oracle for the
    bucketed path below). At scale use
    :func:`embedding_near_duplicates_lsh`."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    cosine(F.col("__va"), F.col("__vb")).alias("cosine_sim"))
            .where(F.col("cosine_sim") >= threshold))


def embedding_near_duplicates_lsh(corpus: DataFrame, threshold: float = 0.99,
                                  num_tables: int = 6, bits_per_table: int = 8,
                                  dim: int = 64, vec_col: str = "embedding",
                                  id_col: str = "vec_id") -> DataFrame:
    """Near-dup pairs via hyperplane-LSH candidate generation + exact
    cosine verify — the 100 TB shape. Each vector gets ``num_tables``
    deterministic bucket keys map-side; candidates come from a
    self-equi-join on the bucket (shuffle on bucket key, never a cross
    product: ~N²/2^(bits+1) candidate pairs per table instead of N²/2),
    then the exact cosine filter keeps true pairs only.

    Candidate recall is probabilistic: a pair at angle θ agrees on one
    bit w.p. 1-θ/π, on a table w.p. (1-θ/π)^bits. For real near-dup
    thresholds (≥0.95) the default 6×8 config finds ≥96% of pairs (and
    misses only pairs hovering at the threshold); raise ``num_tables``
    for more recall, ``bits_per_table`` for fewer candidates. Buckets
    are md5-derived constants (lsh_sign_matrix) — fully deterministic,
    so results are reproducible bit-for-bit across engines.
    """
    mats = lsh_sign_matrix(num_tables, bits_per_table, dim)
    # per-row dim guard (no extra probe job): a wrong dim silently
    # zeroes bucket bits (null-padded zip_with poisons the fold) and
    # every vector would collide — fail loudly at scan time instead
    guard = F.assert_true(
        F.size(F.col(vec_col)) == dim,
        F.concat(F.lit(f"embedding_near_duplicates_lsh: dim={dim} but "
                       f"{vec_col} has "),
                 F.size(F.col(vec_col)).cast("string"), F.lit(" elements")))
    # The vector norm is per-vector, not per-pair: compute it once in
    # the signature pass and carry it to the verify join, which then
    # pays one dot product per candidate instead of a full cosine
    # (dot + two norms — the value is IEEE-identical, norm's fold is
    # unchanged, so oracle hashes are unaffected).
    bucketed = (_fan_out(corpus.where(guard.isNull()))
                .select(F.col(id_col).alias("__id"),
                        F.col(vec_col).alias("__v"),
                        norm(F.col(vec_col)).alias("__n"),
                        F.explode(_bucket_keys(F.col(vec_col), mats))
                         .alias("__bucket")))
    # Materialize once and self-join: the signature pass runs a single
    # time instead of once per join side (at cluster scale: "write the
    # bucket table, then join" — same shape as the MinHash path).
    bucketed = materialize(bucketed)
    a = bucketed.select(F.col("__id").alias("id_a"),
                        F.col("__v").alias("__va"),
                        F.col("__n").alias("__na"), "__bucket")
    b = bucketed.select(F.col("__id").alias("id_b"),
                        F.col("__v").alias("__vb"),
                        F.col("__n").alias("__nb"), "__bucket")
    cands = (a.join(b, "__bucket")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "__va", "__vb", "__na", "__nb")
             .dropDuplicates(["id_a", "id_b"]))
    return (cands.select(
        "id_a", "id_b",
        (dot(F.col("__va"), F.col("__vb"))
         / (F.col("__na") * F.col("__nb"))).alias("cosine_sim"))
        .where(F.col("cosine_sim") >= threshold))


# ---------------------------------------------------------------------
# hyperplane-LSH ANN (the bucketed scale path without a codebook)
# ---------------------------------------------------------------------

def _planes_tensor(mats: list) -> Column:
    """All tables' sign matrices as ONE plan node.

    ``F.lit(mats)`` expands nested Python lists into a CreateArray tree
    with one Literal node per scalar — tables×bits×dim ≈ 3k nodes that
    every analyzer/optimizer pass re-walks, a fixed ~1.5s of driver time
    per query at the 6×8×64 default (measured). ``from_json`` of a
    foldable string is constant-folded by Catalyst into a single
    array-typed Literal at optimization time (verified: no
    ``jsontostructs`` in the optimized plan), so the plan tree stays
    small and per-row evaluation reads the folded constant."""
    return F.from_json(F.lit(json.dumps(mats)),
                       "array<array<array<double>>>")


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition to the session's parallelism when the scan produced
    fewer partitions — the LSH signature pass is CPU-bound per row, and
    a small parquet file arrives as one partition that would serialize
    the whole pass on one core. At scale this is a no-op: a 100 TB scan
    already yields far more partitions than cores."""
    return ensure_parallelism(df)


def _bucket_keys(vec: Column, mats: list) -> Column:
    """``table|bits`` bucket key per LSH table, as one array column.

    Bit b of table t = sign of <vec, plane_tb> (sequential double fold —
    zip_with then left-to-right aggregate — so bucket bits stay
    bit-identical to the DuckDB oracle mirror). The whole tensor enters
    the plan as a single folded literal (see _planes_tensor); one
    index-aware transform derives every table's key in one pass."""
    def bits(tp: Column) -> Column:
        return F.array_join(
            F.transform(tp, lambda p: F.when(
                F.aggregate(
                    F.zip_with(vec, p,
                               lambda x, y: x.cast("double") * y.cast("double")),
                    F.lit(0.0), lambda acc, v: acc + v) > 0, "1")
                .otherwise("0")), "")
    return F.transform(
        _planes_tensor(mats),
        lambda tp, i: F.concat(i.cast("string"), F.lit("|"), bits(tp)))


def lsh_sign_matrix(num_tables: int, bits_per_table: int, dim: int) -> list:
    """Deterministic ±1 hyperplane signs from md5("t|b|i") — generated
    at PLAN BUILD time (Python), so the Spark plan and the DuckDB
    oracle share literal constants and no float RNG crosses engines."""
    import hashlib
    mats = []
    for t in range(num_tables):
        planes = []
        for b in range(bits_per_table):
            planes.append([
                1.0 if int(hashlib.md5(f"{t}|{b}|{i}".encode())
                           .hexdigest()[0], 16) >= 8 else -1.0
                for i in range(dim)])
        mats.append(planes)
    return mats


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             num_tables: int = 4, bits_per_table: int = 6, dim: int = 64,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """ANN top-k via random-hyperplane LSH: vectors that agree on all
    bits of any table become candidates; exact cosine re-ranks.

    Scale shape: the corpus is bucketed map-side (num_tables bucket
    keys per vector), candidates come from an equi-join on
    (table, bits) — no cross product, no codebook training. Recall
    rises with num_tables; candidate cost with 2^-bits_per_table.
    """
    # a wrong dim silently zeroes every bucket bit (null-padded zip_with
    # poisons the dot fold) — all vectors collide and the join
    # degenerates to a cross product; fail loudly instead
    probe = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if probe is not None and probe["d"] != dim:
        raise ValueError(
            f"lsh_topk dim={dim} but {vec_col} has {probe['d']} elements")
    mats = lsh_sign_matrix(num_tables, bits_per_table, dim)
    # per-vector norms computed BEFORE the bucket explode (once per
    # vector, not per bucket or per candidate pair) and carried to the
    # re-rank — IEEE-identical values, the brute_force_topk rule
    c = _fan_out(corpus).select(F.col(id_col).alias("neighbor_id"),
                                F.col(vec_col).alias("__cvec"),
                                norm(F.col(vec_col)).alias("__cn"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qvec"),
                       norm(F.col(vec_col)).alias("__qn"))
    c_buckets = c.select(
        "neighbor_id", "__cvec", "__cn",
        F.explode(_bucket_keys(F.col("__cvec"), mats)).alias("__bucket"))
    q_buckets = q.select(
        "query_id", "__qvec", "__qn",
        F.explode(_bucket_keys(F.col("__qvec"), mats)).alias("__bucket"))
    cands = (c_buckets.join(F.broadcast(q_buckets), "__bucket")
             .where(F.col("neighbor_id") != F.col("query_id"))
             .select("query_id", "__qvec", "__qn",
                     "neighbor_id", "__cvec", "__cn")
             .dropDuplicates(["query_id", "neighbor_id"]))
    scored = cands.select(
        "query_id", "neighbor_id",
        (dot(F.col("__qvec"), F.col("__cvec"))
         / (F.col("__qn") * F.col("__cn"))).alias("cosine_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k))


# ---------------------------------------------------------------------
# product quantization (PQ) — compressed ANN for corpus-scale indexes
# ---------------------------------------------------------------------

def pq_fit(corpus: DataFrame, num_subspaces: int = 8, k: int = 16,
           vec_col: str = "embedding", id_col: str = "vec_id",
           dim: int = 64, max_iters: int = 5,
           fit_sample_cap: int | None = 50_000) -> DataFrame:
    """Product-quantization codebooks: the vector splits into
    ``num_subspaces`` contiguous subvectors, each clustered
    independently by the deterministic :func:`kmeans_fit`. The full
    codebook is num_subspaces·k centroids — model-sized, broadcastable.

    Why PQ at 100 TB: a 64-dim float vector is 256 bytes; its PQ code
    is num_subspaces bytes (one centroid id per subspace) — a 32×
    compression that turns a petabyte of embeddings into terabytes of
    scannable codes, queried without decompression (see
    :func:`pq_topk`). Deterministic end to end — same corpus, same
    codebook bits, any partitioning.

    Returns (subspace, centroid_id, centroid array<double> of
    dim/num_subspaces)."""
    if dim % num_subspaces != 0:
        raise ValueError(f"dim={dim} not divisible by "
                         f"num_subspaces={num_subspaces}")
    sub = dim // num_subspaces
    # one shared sample so every subspace trains on the same vectors
    # (and one COUNT, not one per subspace — the inner cap is
    # disabled); pinned so the 8 sequential fits' iterations never
    # re-scan the full corpus through the lazy sample filter
    if fit_sample_cap is not None:
        sampled = md5_sample(corpus, fit_sample_cap, id_col)
        if sampled is not corpus:
            corpus = materialize(sampled.select(F.col(id_col),
                                                F.col(vec_col)))
    books = None
    for j in range(num_subspaces):
        sliced = corpus.select(
            F.col(id_col), F.slice(F.col(vec_col), j * sub + 1, sub)
            .alias(vec_col))
        cb = (kmeans_fit(sliced, k=k, max_iters=max_iters,
                         vec_col=vec_col, id_col=id_col, metric="l2",
                         fit_sample_cap=None)
              .select(F.lit(j).alias("subspace"), "centroid_id", "centroid"))
        books = cb if books is None else books.unionByName(cb)
    return materialize(books)


def pq_fit_joint(corpus: DataFrame, num_subspaces: int = 8, k: int = 16,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 dim: int = 64, max_iters: int = 5,
                 min_shift: float = 1e-7,
                 fit_sample_cap: int | None = 50_000) -> DataFrame:
    """:func:`pq_fit`, restructured for job count: instead of
    num_subspaces SEQUENTIAL kmeans fits (each its own seed scan plus
    max_iters assignment jobs — ~4·num_subspaces Spark jobs whose
    fixed overhead dominates the fit), every subspace trains in the
    SAME Lloyd iteration over the exploded (id, subspace, subvector)
    frame: one seed scan, then one assignment+update job per
    iteration, each row scoring only its own subspace's k centroids
    from the broadcast joint codebook. Bit-identical output to
    :func:`pq_fit` (pytest-pinned): the md5 seed order is the same k
    ids for every subspace, the fixed-point mean update is the same
    arithmetic, the L2 argmin and tie rule are the same expressions,
    and a converged subspace freezes exactly where its sequential
    twin stops."""
    if dim % num_subspaces != 0:
        raise ValueError(f"dim={dim} not divisible by "
                         f"num_subspaces={num_subspaces}")
    sub = dim // num_subspaces
    spark = corpus.sparkSession
    # same deterministic sample as pq_fit (same salt, same threshold)
    # — the bit-identity pin between the two holds at ANY corpus size
    if fit_sample_cap is not None:
        corpus = md5_sample(corpus, fit_sample_cap, id_col)
    seed_rows = (corpus
                 .select(F.col(id_col), F.col(vec_col))
                 .orderBy(F.md5(F.concat_ws("|", F.lit("kmeans-init"),
                                            F.col(id_col).cast("string"))),
                          F.col(id_col))
                 .limit(k).collect())
    if not seed_rows:
        raise ValueError("pq_fit_joint: corpus is empty")
    # cents[j] = [(cid, subvector)] — kmeans_fit's init per subspace is
    # the SAME k smallest-md5 ids, so one collect seeds all subspaces
    cents: dict[int, list[tuple[int, list[float]]]] = {
        j: [(i, [float(x) for x in r[vec_col]][j * sub:(j + 1) * sub])
            for i, r in enumerate(seed_rows)]
        for j in range(num_subspaces)}
    # fixed-dim non-null contract, same guard as pq_encode/ivf_assign
    vec = _checked_vec(vec_col, dim, "pq_fit_joint")
    exploded = materialize(corpus.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("subspace"),
                     F.slice(vec, j * sub + 1, sub)
                     .alias("sv"))
            for j in range(num_subspaces)])).alias("__e"))
        .select(id_col, F.col("__e.subspace").alias("subspace"),
                F.col("__e.sv").alias("sv")))
    live = set(range(num_subspaces))
    for _ in range(max_iters):
        if not live:
            break
        # Arrow-vectorized assignment against the current codebook —
        # bit-identical to ivf_assign's l2 fold + max(-cid) tie rule:
        # elementwise float64 (a-b)*(a-b), accumulated LEFT-TO-RIGHT
        # by explicit chained adds (the same IEEE operation sequence
        # as the JVM fold — numpy's own sum would pairwise-split),
        # argmin first-hit on position-ordered cids == lowest-cid tie
        # (cents[j] keeps cid == list position by construction:
        # enumerate at seed, order-preserving update below). Why a
        # pandas UDF in an otherwise-JVM file: the in-row
        # higher-order-function argmin is interpreted (HOFs never
        # enter whole-stage codegen) and evaluated at ~300µs/row —
        # a fixed multi-second floor per Lloyd iteration even at the
        # 50k fit-sample cap. This is the sanctioned Arrow-batched
        # extension path (SURVEY §2.8), model-sized closure, never
        # per-row Python objects.
        cb = np.array([[cv for _cid, cv in cents[j]]
                       for j in range(num_subspaces)])   # (S, k, sub)

        @F.pandas_udf("long")
        def _assign(subspace: pd.Series, sv: pd.Series) -> pd.Series:
            v = np.array(sv.tolist(), dtype=np.float64)  # (n, sub)
            c = cb[subspace.to_numpy()]                  # (n, k, sub)
            d = v[:, None, :] - c
            sims = -_seqsum(d * d)
            return pd.Series(
                _argmax_nan_biggest(sims).astype("int64"))

        stats = (exploded
                 .where(F.col("subspace").isin(sorted(live)))
                 .select("subspace",
                         _assign("subspace", "sv").alias("centroid_id"),
                         F.posexplode(F.col("sv")).alias("pos", "comp"))
                 .groupBy("subspace", "centroid_id", "pos")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.sum(F.round(F.col("comp").cast("double")
                                    * CENTROID_SCALE).cast("long"))
                      .alias("s"))
                 .collect())
        by_key: dict[tuple[int, int], dict[int, float]] = {}
        for r in stats:
            by_key.setdefault((r["subspace"], r["centroid_id"]), {})[
                r["pos"]] = (r["s"] / r["n"]) / CENTROID_SCALE
        for j in sorted(live):
            shift = 0.0
            new_cents = []
            for cid, old in cents[j]:
                comps = by_key.get((j, cid))
                if comps:
                    new = [comps[p] for p in sorted(comps)]
                    shift = max(shift, max(abs(a - b)
                                           for a, b in zip(old, new)))
                else:
                    new = old
                new_cents.append((cid, new))
            cents[j] = new_cents
            if shift <= min_shift:
                live.discard(j)  # frozen where the sequential twin stops
    rows = [(j, cid, cv) for j in range(num_subspaces)
            for cid, cv in cents[j]]
    return spark.createDataFrame(
        rows, "subspace long, centroid_id long, centroid array<double>")


def pq_codebooks_exact(corpus: DataFrame, num_subspaces: int = 8,
                       k: int = 16, vec_col: str = "embedding",
                       id_col: str = "vec_id", dim: int = 64) -> DataFrame:
    """Closed-form PQ codebooks with ORDER-INDEPENDENT math — the
    product-quantization analogue of :func:`label_centroids_exact`:
    codeword (j, c) is the fixed-point per-component mean of subspace
    j's slices over the rows with ``id % k == c``. No Lloyd iteration,
    so — unlike :func:`pq_fit` — the whole construction is a plain
    aggregate an oracle engine reproduces bit-for-bit; quantization
    quality is below a trained codebook's, which is exactly the
    trade: this codebook exists to make the ENTIRE PQ road
    (encode → ADC shortlist → rerank) full-value-verifiable, the same
    role label centroids play for the IVF road. One shuffle keyed on
    (subspace, code, position); output is the :func:`pq_fit` shape
    (subspace, centroid_id, centroid)."""
    if dim % num_subspaces != 0:
        raise ValueError(f"dim={dim} not divisible by "
                         f"num_subspaces={num_subspaces}")
    sub = dim // num_subspaces
    ex = corpus.select((F.col(id_col) % k).alias("centroid_id"),
                       F.posexplode(F.col(vec_col)).alias("pos0", "comp"))
    scaled = F.round(F.col("comp").cast("double") * CENTROID_SCALE) \
        .cast("long")
    subspace = ((F.col("pos0") - F.col("pos0") % sub) / sub).cast("long")
    means = (ex.groupBy(subspace.alias("subspace"), F.col("centroid_id"),
                        (F.col("pos0") % sub).alias("ip"))
             .agg(F.count(F.lit(1)).alias("n"), F.sum(scaled).alias("__s"))
             .select("subspace", "centroid_id", "ip",
                     ((F.col("__s").cast("double") / F.col("n"))
                      / CENTROID_SCALE).alias("w")))
    return (means.groupBy("subspace", "centroid_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("ip", "w"))),
                lambda x: x["w"]).alias("centroid")))


def pq_encode(corpus: DataFrame, codebooks: DataFrame,
              num_subspaces: int = 8, vec_col: str = "embedding",
              id_col: str = "vec_id", dim: int = 64) -> DataFrame:
    """Encode every vector as (id, subspace, code): per subspace, the
    nearest codebook centroid by L2 (the quantizer objective Lloyd's
    mean-update optimizes — cosine assignment here would discard
    subvector magnitude, corrupting the ADC sums). ONE zero-shuffle
    pass: the vector explodes into its (subspace, subvector) slices
    in-row (narrow), and an Arrow-batched argmin scores them against
    the model-sized codebook closure — bit-identical to
    :func:`ivf_assign`'s l2 fold (elementwise float64 (a-b)*(a-b)
    accumulated left-to-right by explicit chained adds) with the same
    lowest-cid tie rule (candidates ordered by ascending cid, argmin
    first-hit). The previous shape — num_subspaces sequential
    :func:`ivf_assign` calls unioned — scanned the corpus 8× and
    paid the interpreted higher-order-function argmin (~300µs/row);
    this is the sanctioned Arrow extension path (SURVEY §2.8). Long
    form (one row per (id, subspace)); :func:`codes_to_wide` pivots it
    to the one-row-per-vector shape ADC scans and the index stores.

    Contract: ``vec_col`` must be NON-NULL and exactly ``dim``
    elements on every row — null/ragged vectors raise the clean
    :func:`_checked_vec` error, never a numpy shape crash."""
    sub = dim // num_subspaces
    rows = codebooks.collect()   # model-sized, like ivf_assign
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(int(r["subspace"]), []).append(
            (int(r["centroid_id"]), [float(x) for x in r["centroid"]]))
    # ascending cid per subspace so argmin's first-hit tie == lowest
    # cid (arbitrary, possibly sparse cids supported — e.g. label ids)
    cids = {j: np.array(sorted(c for c, _ in v), dtype=np.int64)
            for j, v in by_sub.items()}
    mats = {j: np.array([cv for _c, cv in sorted(v)])
            for j, v in by_sub.items()}

    @F.pandas_udf("long")
    def _code(subspace: pd.Series, sv: pd.Series) -> pd.Series:
        v = np.array(sv.tolist(), dtype=np.float64)
        s = subspace.to_numpy()
        out = np.empty(len(v), dtype=np.int64)
        for j in np.unique(s):
            m = s == j
            d = v[m][:, None, :] - mats[int(j)]
            sims = -_seqsum(d * d)
            out[m] = cids[int(j)][_argmax_nan_biggest(sims)]
        return pd.Series(out)

    # fixed-dim non-null contract (declared dim): null/ragged vectors
    # raise the clean _checked_vec error before slicing, not an
    # inhomogeneous-shape numpy crash inside the Arrow worker
    vec = _checked_vec(vec_col, dim, "pq_encode")
    exploded = corpus.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("subspace"),
                     F.slice(vec, j * sub + 1, sub)
                     .alias("sv"))
            for j in range(num_subspaces)])).alias("__e"))
    return exploded.select(
        F.col(id_col),
        F.col("__e.subspace").cast("long").alias("subspace"),
        _code(F.col("__e.subspace"), F.col("__e.sv")).alias("code"))


def _codes_are_long(codes: DataFrame) -> bool:
    """True for the long (id, subspace, code) shape :func:`pq_encode`
    emits; False for the wide (id, c0..c{m-1}) shape the persisted
    index stores — one row of num_subspaces small ints per vector,
    which ADC scans without a pivot exchange. Both shapes carry the
    same code values bit-for-bit (the wide form IS the long form's
    pivot)."""
    return "subspace" in codes.columns and "code" in codes.columns


def codes_to_wide(codes: DataFrame, id_col: str = "vec_id",
                  num_subspaces: int = 8) -> DataFrame:
    """Pivot long (id, subspace, code) rows to one wide
    (id, c0..c{m-1}) row per vector — the stored-index layout. A
    frame already wide passes through (validated)."""
    if _codes_are_long(codes):
        return codes.groupBy(F.col(id_col)).agg(*[
            F.max(F.when(F.col("subspace") == j, F.col("code")))
            .alias(f"c{j}") for j in range(num_subspaces)])
    missing = [f"c{j}" for j in range(num_subspaces)
               if f"c{j}" not in codes.columns]
    if missing:
        raise ValueError(
            f"codes_to_wide: frame is neither long (subspace, code) "
            f"nor wide — missing columns {missing}")
    return codes


def _adc_topk(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
              k: int, num_subspaces: int, vec_col: str, id_col: str,
              dim: int, op: str) -> tuple[DataFrame, DataFrame]:
    """The one ADC core behind every PQ search: returns the per-query
    top-k frame (query_id, neighbor_id, approx_dot, rank) and the
    (query_id, __qv) frame it was scored from.

    The query vectors — the bounded set every ADC plan broadcasts,
    held to the fixed-dim non-null contract first — and the
    model-sized codebooks are collected once. Each query's
    num_subspaces × n_codes partial-dot table is folded on the driver
    by :func:`_fold_dots`, the JVM ``dot`` twin, so every partial is
    bit-identical to the in-plan fold. The tables ship as ONE Arrow
    frame, which plans as a LocalTableScan: executing the search
    re-scans no query source and wakes no Python worker, and
    non-finite partials survive as values (an SQL literal cannot
    spell them). That frame broadcasts against the wide code scan,
    and approx_dot sums the looked-up partials left to right in
    subspace order. A fixed fold, unlike a hash-aggregate float SUM
    whose addition order depends on partitioning, so the shortlist
    cut (decided by a sum of num_subspaces doubles) reproduces
    bit-for-bit against an oracle engine."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    sub = dim // num_subspaces
    qrows = queries.select(
        F.col(id_col), _checked_vec(vec_col, dim, op).alias(vec_col)).collect()
    if any(x is None for r in qrows for x in r[vec_col]):
        # NumPy would read a null element as NaN, which ranks first
        raise ValueError(f"{op}: {vec_col} has a null element "
                         f"(fixed-dim non-null contract)")
    books = codebooks.select("subspace", "centroid_id", "centroid").collect()
    # codes index the table by centroid id directly (ids may be sparse);
    # slots no centroid fills are never looked up
    n_codes = 1 + max(int(r["centroid_id"]) for r in books)
    cb = np.zeros((num_subspaces, n_codes, sub))
    for r in books:
        cb[int(r["subspace"]), int(r["centroid_id"])] = r["centroid"]
    qv = np.array([r[vec_col] for r in qrows],
                  dtype=np.float64).reshape(len(qrows), dim)
    tables = np.stack([_fold_dots(qv[:, j * sub:(j + 1) * sub], cb[j])
                       for j in range(num_subspaces)], axis=1)
    qt = queries.sparkSession.createDataFrame(pa.table({
        "query_id": pa.array([r[id_col] for r in qrows],
                             to_arrow_type(queries.schema[id_col].dataType)),
        "__qv": pa.array(list(qv), pa.list_(pa.float64())),
        "__adc": pa.array(list(tables.reshape(len(qrows),
                                              num_subspaces * n_codes)),
                          pa.list_(pa.float64()))}))
    approx = F.lit(0.0)
    for j in range(num_subspaces):
        approx = approx + F.element_at(
            "__adc", (F.col(f"c{j}") + (j * n_codes + 1)).cast("int"))
    scored = (codes_to_wide(codes, id_col, num_subspaces)
              .crossJoin(F.broadcast(qt.select("query_id", "__adc")))
              .where(F.col("query_id") != F.col(id_col))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      approx.alias("approx_dot")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("neighbor_id"))
    top = (scored.withColumn("rank", F.row_number().over(w).cast("long"))
           .where(F.col("rank") <= k))
    return top, qt.select("query_id", "__qv")


def pq_topk(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
            k: int = 10, num_subspaces: int = 8,
            vec_col: str = "embedding", id_col: str = "vec_id",
            dim: int = 64) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query's
    num_subspaces·K partial dot products against the codebook form a
    model-sized table that BROADCASTS, and the corpus is scanned only
    through its code columns — approx_dot(q, x) =
    Σ_j <q_j, centroid[j][code_j(x)]>, summed left to right in
    subspace order (see :func:`_adc_topk`). The full vectors never
    move; the only shuffle is the per-query top-k window, which Spark
    pre-limits per partition.

    Returns (query_id, neighbor_id, approx_dot, rank ≤ k); ranking
    quality is bounded by quantization error — see the recall pytest
    against :func:`brute_force_topk`. ``codes`` may be long
    (:func:`pq_encode`) or wide (the stored index)."""
    return _adc_topk(codes, codebooks, queries, k, num_subspaces,
                     vec_col, id_col, dim, "pq_topk")[0]


def pq_topk_rerank(corpus: DataFrame, codes: DataFrame,
                   codebooks: DataFrame, queries: DataFrame, k: int = 10,
                   shortlist: int = 200, num_subspaces: int = 8,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   dim: int = 64) -> DataFrame:
    """PQ-shortlist + exact rerank — the production ANN pattern: the
    compressed-code scan (:func:`pq_topk`) nominates ``shortlist``
    candidates per query (cheap: 8-byte codes, broadcast distance
    table), then ONLY those shortlist·|queries| full vectors are
    fetched for exact cosine and the final top-k. Quantization error
    affects which candidates are seen, not their final ranking — on
    the test embeddings shortlist=200/500 lifts recall@10 from ~0.25
    (raw ADC order) to ~1.0 (see tests/test_approx_accuracy.py).

    At 100 TB the full-vector fetch is a hash equi-join on the
    (query, neighbor) shortlist — corpus vectors never scan for
    ranking, only for the bounded rerank. The query vectors come from
    the same driver-built frame as the distance tables, never from a
    second scan of ``queries``."""
    short, qvecs = _adc_topk(codes, codebooks, queries, shortlist,
                             num_subspaces, vec_col, id_col, dim,
                             "pq_topk_rerank")
    cvecs = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).alias("__cv"))
    scored = (short.select("query_id", "neighbor_id")
              .join(cvecs, "neighbor_id")
              .join(F.broadcast(qvecs), "query_id")
              .select("query_id", "neighbor_id",
                      cosine(F.col("__qv"), F.col("__cv"))
                      .alias("cosine_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k))


def knn_classify(corpus: DataFrame, queries: DataFrame, k: int = 10,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 label_col: str = "label") -> DataFrame:
    """k-nearest-neighbor majority-vote classification: exact cosine
    top-k per query (``brute_force_topk`` — broadcast queries, corpus
    never shuffles), then a vote over the neighbors' labels.

    Deterministic tie-break: most votes first, then the best (highest)
    cosine among that label's voters, then the smallest label. The
    vote group-by and the argmax window both run on query_count x k
    rows — bounded by the query set, never corpus-sized.

    Returns (query_id, predicted_label, n_votes, best_sim).
    """
    topk = brute_force_topk(corpus, queries, k=k,
                            vec_col=vec_col, id_col=id_col)
    labels = corpus.select(F.col(id_col).alias("neighbor_id"),
                           F.col(label_col).alias("__nl"))
    votes = (topk.join(labels, "neighbor_id")
             .groupBy("query_id", "__nl")
             .agg(F.count(F.lit(1)).alias("n_votes"),
                  F.max("cosine_sim").alias("best_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.desc("best_sim"), F.asc("__nl"))
    return (votes.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") == 1)
            .select("query_id",
                    F.col("__nl").alias("predicted_label"),
                    "n_votes", "best_sim"))


# ---------------------------------------------------------------------
# persisted IVF index (index-as-artifact: build once, query many)
# ---------------------------------------------------------------------

def write_ivf_index(corpus: DataFrame, centroids: DataFrame, path: str,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> None:
    """Persist an IVF index: cell assignments written PARTITIONED BY
    centroid_id (one directory per cell) plus the codebook parquet.
    The 100 TB point: :func:`ivf_topk` re-assigns the whole corpus on
    every call — fine in one session, absurd across many. The index
    is the durable artifact; after this, a query probing n_probe of k
    cells reads n_probe DIRECTORIES (plan-time partition pruning, the
    same mechanism as the Z-order layout) instead of scanning and
    re-clustering the corpus."""
    from aggregation_duckdb_spark import fsio
    assigned = ivf_assign(corpus, centroids, vec_col, id_col)
    (assigned.withColumn("centroid_id", F.col("centroid_id").cast("int"))
     .withColumn("__ingest_batch", F.lit(-1))
     .write.mode("overwrite").partitionBy("centroid_id", "__ingest_batch")
     .parquet(fsio._join(path, "cells")))
    centroids.write.mode("overwrite").parquet(
        fsio._join(path, "codebook"))


def ivf_topk_indexed(spark, path: str, queries: DataFrame, k: int = 10,
                     n_probe: int = 2, vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """IVF search against a :func:`write_ivf_index` artifact — same
    semantics (and bit-identical results) as :func:`ivf_topk`, but the
    corpus side is the persisted cell table: probe cells chosen per
    query against the stored codebook, then ONLY those cell
    directories are read (``centroid_id IN (...)`` lands in
    PartitionFilters; the probed-cell id list is |Q|·n_probe, the
    sanctioned model-sized collect)."""
    from aggregation_duckdb_spark import fsio
    cents = (spark.read.parquet(fsio._join(path, "codebook"))
             .select(F.col("centroid_id").cast("int").alias("__cid"),
                     F.col("centroid").alias("__cvec")))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qvec"),
                       norm(F.col(vec_col)).alias("__qn"))
    qprobe = (q.crossJoin(F.broadcast(cents))
              .select("query_id", "__qvec", "__qn", "__cid",
                      (dot(F.col("__qvec"), F.col("__cvec"))
                       / (F.col("__qn") * norm(F.col("__cvec"))))
                      .alias("__sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("__sim"),
                                               F.asc("__cid"))
    probes = (qprobe.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= n_probe)
              .select("query_id", "__qvec", "__qn",
                      F.col("__cid").alias("centroid_id")))
    needed = sorted({r["centroid_id"]
                     for r in probes.select("centroid_id")
                     .distinct().collect()})
    cells = (spark.read.parquet(fsio._join(path, "cells"))
             .drop("__ingest_batch")
             .where(F.col("centroid_id").isin(needed)))
    # corpus-side norm once per stored row, not per (query, row) pair
    scored = (cells.withColumn("__cn", norm(F.col(vec_col)))
              .join(F.broadcast(probes), "centroid_id")
              .where(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      (dot(F.col("__qvec"), F.col(vec_col))
                       / (F.col("__qn") * F.col("__cn")))
                      .alias("cosine_sim")))
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rank",
                              F.row_number().over(wk).cast("long"))
            .where(F.col("rank") <= k))


def append_ivf_index(new_corpus: DataFrame, path: str,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     batch_id: int | None = None) -> None:
    """Incremental index maintenance — the steady-state production
    shape (same contract as ``dedup.incremental_dedup``): assign ONLY
    the new batch against the STORED codebook and append its cell
    files. One map-side assign + an append write; the existing corpus
    is never re-read and the codebook never moves (IVF's standard
    contract — immutable centroids between retrains; retrain and
    rebuild when drift warrants it, which is a bulk job, not a
    per-batch one). ``batch_id`` makes the append EXACTLY-ONCE for
    streaming ingest: ids at or below the recorded watermark are
    skipped, and an uncommitted replay rewrites its own
    ``__ingest_batch=N`` slice of each cell partition via dynamic
    partition overwrite instead of appending next to the partial
    attempt — the ``dedup.append_dedup_index`` mechanism."""
    from aggregation_duckdb_spark import fsio
    spark = new_corpus.sparkSession
    if batch_id is not None and \
            batch_id <= fsio.read_ingest_watermark(spark, path):
        return  # replayed micro-batch: already ingested, skip
    cents = spark.read.parquet(fsio._join(path, "codebook"))
    assigned = ivf_assign(new_corpus, cents, vec_col, id_col)
    part = -1 if batch_id is None else int(batch_id)
    mode = "append" if batch_id is None else "overwrite"
    with fsio.dynamic_partition_overwrite(spark):
        (assigned
         .withColumn("centroid_id", F.col("centroid_id").cast("int"))
         .withColumn("__ingest_batch", F.lit(part))
         .write.mode(mode).partitionBy("centroid_id", "__ingest_batch")
         .parquet(fsio._join(path, "cells")))
    if batch_id is not None:
        fsio.commit_ingest_watermark(spark, path, batch_id)


def write_pq_index(corpus: DataFrame, codebooks: DataFrame, path: str,
                   num_subspaces: int = 8, vec_col: str = "embedding",
                   id_col: str = "vec_id", dim: int = 64) -> None:
    """Persist the PQ index — the compressed-ANN counterpart of
    :func:`write_ivf_index`: the model-sized codebooks and the
    corpus's (id, subspace, code) rows as parquet, params in an fsio
    sidecar (hdfs/s3-safe). The codes table is the point at 100 TB —
    num_subspaces bytes per vector instead of dim·4, scanned directly
    by ADC without decompression; full vectors stay in the source
    table and are touched only by the bounded rerank join."""
    from aggregation_duckdb_spark import fsio
    # stored WIDE — one (id, c0..c{m-1}) row per vector: ~8× fewer
    # stored rows/bytes than the long form, and serving needs no
    # per-query pivot exchange. The pivot of pq_encode's long rows
    # carries identical code values bit-for-bit.
    codes = codes_to_wide(
        pq_encode(corpus, codebooks, num_subspaces, vec_col, id_col,
                  dim), id_col, num_subspaces).withColumn(
        "__ingest_batch", F.lit(-1))
    codebooks.write.mode("overwrite").parquet(
        fsio._join(path, "codebooks"))
    (codes.write.mode("overwrite").partitionBy("__ingest_batch")
     .parquet(fsio._join(path, "codes")))
    # the read schemas ride in the sidecar: a serve then plans its
    # reads without Spark's one-job-per-read footer sampling
    fsio.write_json(corpus.sparkSession, fsio._join(path, "params.json"),
                    {"num_subspaces": num_subspaces, "dim": dim,
                     "schemas": {"codebooks": codebooks.schema.jsonValue(),
                                 "codes": codes.schema.jsonValue()}})


def append_pq_index(new: DataFrame, path: str,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    batch_id: int | None = None) -> None:
    """Encode a NEW batch against the STORED codebooks and append its
    codes — per-batch cost proportional to the batch (the
    append_ivf_index contract: the codebook is the trained artifact;
    re-fitting on every ingest would silently re-key every stored
    code). ``batch_id`` makes the append EXACTLY-ONCE for streaming
    ingest: watermark skip plus per-batch ``__ingest_batch=N``
    partition overwrite (the ``dedup.append_dedup_index``
    mechanism)."""
    from aggregation_duckdb_spark import fsio
    spark = new.sparkSession
    if batch_id is not None and \
            batch_id <= fsio.read_ingest_watermark(spark, path):
        return  # replayed micro-batch: already ingested, skip
    p = fsio.read_json(spark, fsio._join(path, "params.json"))
    books = spark.read.parquet(fsio._join(path, "codebooks"))
    codes = pq_encode(new, books, p["num_subspaces"], vec_col, id_col,
                      p["dim"])
    if not _codes_are_long(spark.read.parquet(fsio._join(path,
                                                         "codes"))):
        codes = codes_to_wide(codes, id_col, p["num_subspaces"])
    # else: legacy long-shape artifact — keep appending long rows
    part = -1 if batch_id is None else int(batch_id)
    mode = "append" if batch_id is None else "overwrite"
    with fsio.dynamic_partition_overwrite(spark):
        (codes.withColumn("__ingest_batch", F.lit(part))
         .write.mode(mode).partitionBy("__ingest_batch")
         .parquet(fsio._join(path, "codes")))
    if batch_id is not None:
        fsio.commit_ingest_watermark(spark, path, batch_id)


def _read_pq_index(spark, path: str) -> tuple[dict, DataFrame, DataFrame]:
    """(params, codebooks, codes) of a :func:`write_pq_index`
    artifact, read under the schemas its sidecar records (artifacts
    written without them fall back to inference)."""
    from pyspark.sql.types import StructType

    from aggregation_duckdb_spark import fsio
    p = fsio.read_json(spark, fsio._join(path, "params.json"))

    def read(name: str) -> DataFrame:
        r = spark.read
        if name in p.get("schemas", {}):
            r = r.schema(StructType.fromJson(p["schemas"][name]))
        return r.parquet(fsio._join(path, name))
    return p, read("codebooks"), read("codes").drop("__ingest_batch")


def pq_topk_indexed(spark, path: str, queries: DataFrame, k: int = 10,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """ADC top-k served from the persisted PQ index: the stored
    codebooks build each query's broadcast distance table, the stored
    code rows are the only corpus-sized scan. Identical math to
    :func:`pq_topk` over the same codes (pytest-pinned equal)."""
    p, books, codes = _read_pq_index(spark, path)
    return pq_topk(codes, books, queries, k=k,
                   num_subspaces=p["num_subspaces"], vec_col=vec_col,
                   id_col=id_col, dim=p["dim"])


def pq_topk_rerank_indexed(spark, path: str, corpus: DataFrame,
                           queries: DataFrame, k: int = 10,
                           shortlist: int = 200,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> DataFrame:
    """Shortlist-from-index + exact rerank: the stored codes nominate,
    the source table's full vectors re-score only the bounded
    shortlist — the production serving path over the persisted
    artifact."""
    p, books, codes = _read_pq_index(spark, path)
    return pq_topk_rerank(corpus, codes, books, queries, k=k,
                          shortlist=shortlist,
                          num_subspaces=p["num_subspaces"],
                          vec_col=vec_col, id_col=id_col, dim=p["dim"])


def ivf_index_health(spark, path: str, vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     sample_cap: int = 5_000) -> dict:
    """Drift probe over a persisted IVF index — the metadata-sized
    measurement :func:`maintain_ivf_index` decides from:

    - ``cell_skew``: max/mean cell population over the FULL cells
      table (one groupBy — k aggregate rows). Appends assigned
      against a stale codebook pile into the nearest surviving cells,
      so drift shows up as skew long before recall visibly decays.
    - ``mean_sim``: mean cosine similarity of an md5-sampled subset
      of stored vectors to their OWN centroid (sample ⋈ broadcast
      codebook — model-sized work). Drift pushes vectors away from
      every frozen centroid, dropping this number.

    Both are deterministic (md5 sample, decimal-free integer counts /
    a bounded float mean)."""
    from aggregation_duckdb_spark import fsio
    cells = spark.read.parquet(fsio._join(path, "cells"))
    sizes = (cells.groupBy("centroid_id")
             .agg(F.count(F.lit(1)).alias("n")).collect())
    ns = [int(r["n"]) for r in sizes]
    skew = (max(ns) / (sum(ns) / len(ns))) if ns else 0.0
    cents = (spark.read.parquet(fsio._join(path, "codebook"))
             .select(F.col("centroid_id").cast("int").alias("__cid"),
                     F.col("centroid").alias("__cvec")))
    sample = md5_sample(cells.select(F.col(id_col), F.col(vec_col),
                                     F.col("centroid_id").cast("int")
                                     .alias("__cid")),
                        sample_cap, id_col, salt="ivf-health")
    row = (sample.join(F.broadcast(cents), "__cid")
           .select(cosine(F.col(vec_col), F.col("__cvec"))
                   .alias("__s"))
           .agg(F.avg("__s").alias("m")).collect()[0])
    return {"cell_skew": round(float(skew), 4),
            "mean_sim": (round(float(row["m"]), 6)
                         if row["m"] is not None else None),
            "n_cells": len(ns), "n_vectors": sum(ns)}


IVF_HEALTH_SIDECAR = "health.json"


def maintain_ivf_index(spark, path: str, vec_col: str = "embedding",
                       id_col: str = "vec_id",
                       max_skew: float = 4.0,
                       max_sim_drop: float = 0.05,
                       sample_cap: int = 5_000,
                       max_iters: int = 10,
                       fit_sample_cap: int | None = 50_000,
                       max_batches: int = 8) -> dict:
    """One-call IVF index maintenance — the ``maintain_zordered``
    policy shape for ANN: measure drift cheaply, re-fit and
    re-partition only when it crosses a threshold, otherwise do
    nothing (a healthy index costs one k-row aggregate and one
    sampled mean).

    ``append_ivf_index`` deliberately freezes the codebook (IVF's
    standard contract — immutable centroids between retrains), which
    means recall DECAYS silently under distribution drift: new
    batches crowd into whichever stale cells are nearest, probes read
    overgrown cells, and the n_probe nearest-cell heuristic stops
    matching where the data actually lives. This verb is the missing
    retrain policy: the first call records the build-time health
    baseline in a sidecar; later calls re-measure and REBUILD (fresh
    :func:`kmeans_fit` over the stored vectors — md5-sample-capped,
    so the fit cost never grows with the corpus — then one full
    reassignment pass, the same bulk job as the original build) when
    ``cell_skew`` exceeds ``max_skew`` or the sampled own-centroid
    similarity fell more than ``max_sim_drop`` below the baseline.
    When the codebook is healthy, the OTHER decay axis is checked
    instead: per-append ``__ingest_batch`` partitions piled past
    ``max_batches`` fold via :func:`compact_ivf_index` (metadata-only
    census, the ``maintain_text_index`` policy); a refit folds them
    as a side effect of the rebuild. Returns {"refit", "health",
    "baseline", "compacted", ...}; recall recovery on a deliberately
    drifted batch is pytest-pinned."""
    from aggregation_duckdb_spark import fsio
    health = ivf_index_health(spark, path, vec_col, id_col, sample_cap)
    side = fsio._join(path, IVF_HEALTH_SIDECAR)
    try:
        baseline = fsio.read_json(spark, side)
    except Exception:
        baseline = None
    if baseline is None:
        # first measurement on an index built before this verb (or
        # right after a build): record the baseline, change nothing
        fsio.write_json(spark, side, health)
        return {"refit": False, "health": health, "baseline": health,
                **_ivf_fold_if_piled(spark, path, max_batches)}
    drifted = health["cell_skew"] > max_skew or (
        health["mean_sim"] is not None
        and baseline.get("mean_sim") is not None
        and health["mean_sim"] < baseline["mean_sim"] - max_sim_drop)
    if not drifted:
        return {"refit": False, "health": health, "baseline": baseline,
                **_ivf_fold_if_piled(spark, path, max_batches)}
    cells = spark.read.parquet(fsio._join(path, "cells"))
    corpus = materialize(cells.select(F.col(id_col), F.col(vec_col)))
    k = int(health["n_cells"]) or 16
    cents = kmeans_fit(corpus, k=k, max_iters=max_iters,
                       vec_col=vec_col, id_col=id_col,
                       fit_sample_cap=fit_sample_cap)
    write_ivf_index(corpus, cents, path, vec_col, id_col)
    new_health = ivf_index_health(spark, path, vec_col, id_col,
                                  sample_cap)
    fsio.write_json(spark, side, new_health)   # new baseline
    return {"refit": True, "health": new_health, "baseline": baseline,
            "compacted": True}   # the rebuild folds batches to base


def _compact_swap(spark, table_dir: str, folded, part_cols, verb: str):
    """write-temp-then-swap shared by the ANN index compactors (the
    ``compact_dedup_index`` crash-safety contract): the folded copy is
    complete before the live table is touched, and a crash between the
    delete and the rename leaves it recoverable at
    ``<table>.__compact_tmp``."""
    from aggregation_duckdb_spark import fsio
    tmp = table_dir.rstrip("/") + ".__compact_tmp"
    fsio.delete(spark, tmp)
    (folded.write.mode("errorifexists").partitionBy(*part_cols)
     .parquet(tmp))
    fsio.delete(spark, table_dir)
    if not fsio.rename(spark, tmp, table_dir):
        raise RuntimeError(
            f"{verb}: rename from {tmp} failed — the complete folded "
            f"table is intact there; move it into place and re-run")


def compact_ivf_index(spark, path: str, id_col: str = "vec_id") -> dict:
    """Fold the IVF cells table's accumulated ``__ingest_batch``
    partitions back into the base partition — the OPTIMIZE analogue
    for the ANN index (round 15, completing the family:
    ``text.compact_text_index`` / ``dedup.compact_dedup_index``).
    Every ``append_ivf_index`` leaves one tiny ``__ingest_batch=N``
    directory under EVERY touched cell, so after long streaming
    ingest a probe that should read n_probe directories reads
    n_probe·batches, and scan cost tracks append count instead of
    data size. One rewrite per index folds them, preserving the
    ``centroid_id`` partitioning that probe-time pruning depends on.
    The codebook, health sidecar and ingest watermark are untouched:
    centroids don't move (assignments are invariant under folding),
    drift baselines stay comparable, and replays of folded batch ids
    still short-circuit — exactly-once survives compaction. Search
    results are pytest-pinned identical across the fold."""
    from aggregation_duckdb_spark import fsio
    cells_dir = fsio._join(path, "cells")
    cells = spark.read.parquet(cells_dir)
    if "__ingest_batch" not in cells.columns:
        return {"folded_batches": 0}
    batches = [int(r[0]) for r in
               cells.select("__ingest_batch").distinct().collect()]
    if len(batches) <= 1:
        return {"folded_batches": 0}
    _compact_swap(spark, cells_dir,
                  cells.withColumn("__ingest_batch", F.lit(-1)),
                  ["centroid_id", "__ingest_batch"],
                  "compact_ivf_index")
    return {"folded_batches": len(batches)}


def compact_pq_index(spark, path: str) -> dict:
    """Fold the PQ codes table's per-append ``__ingest_batch``
    partitions into the base partition — same small-file story and
    same crash-safety/watermark contract as :func:`compact_ivf_index`
    (codes are invariant under folding: the codebooks they were
    encoded against are untouched). ADC scans afterwards read one
    directory instead of one per historical append."""
    from aggregation_duckdb_spark import fsio
    codes_dir = fsio._join(path, "codes")
    codes = spark.read.parquet(codes_dir)
    if "__ingest_batch" not in codes.columns:
        return {"folded_batches": 0}
    batches = [int(r[0]) for r in
               codes.select("__ingest_batch").distinct().collect()]
    if len(batches) <= 1:
        return {"folded_batches": 0}
    _compact_swap(spark, codes_dir,
                  codes.withColumn("__ingest_batch", F.lit(-1)),
                  ["__ingest_batch"], "compact_pq_index")
    return {"folded_batches": len(batches)}


def _ivf_batches(spark, path: str) -> list:
    """Metadata-only batch census for the nested (centroid_id,
    __ingest_batch) cells layout: union the per-cell partition
    listings — O(cells + directories), no Spark job."""
    from aggregation_duckdb_spark import fsio
    cells_dir = fsio._join(path, "cells")
    batches = set()
    for d in fsio.list_names(spark, cells_dir):
        if d.startswith("centroid_id="):
            batches.update(fsio.ingest_batches(
                spark, fsio._join(cells_dir, d)))
    return sorted(batches)


def _ivf_fold_if_piled(spark, path: str, max_batches: int) -> dict:
    batches = _ivf_batches(spark, path)
    if len(batches) <= max_batches:
        return {"compacted": False, "batches": len(batches)}
    rep = compact_ivf_index(spark, path)
    return {"compacted": True, "batches": len(batches), **rep}


def maintain_pq_index(spark, path: str, max_batches: int = 8) -> dict:
    """Maintenance policy for the PQ index — the
    ``text.maintain_text_index`` twin (PQ has no drift dimension: the
    codebooks are the trained artifact and re-fitting would re-key
    every stored code, so the only decaying axis is the per-append
    partition count): metadata-only batch census on the codes table's
    listing, fold via :func:`compact_pq_index` past ``max_batches``."""
    from aggregation_duckdb_spark import fsio
    batches = fsio.ingest_batches(spark, fsio._join(path, "codes"))
    if len(batches) <= max_batches:
        return {"compacted": False, "batches": len(batches)}
    rep = compact_pq_index(spark, path)
    return {"compacted": True, "batches": len(batches), **rep}
