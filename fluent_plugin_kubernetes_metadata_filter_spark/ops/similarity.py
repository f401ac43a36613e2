"""Similarity search over an embedding column (array<float>).

Two paths:

- brute_force_topk: exact cosine top-k. Dot products are JVM expressions
  (zip_with + aggregate) — no Python in the loop. The candidate side is
  broadcast when small; for query batches the cross join distributes over
  candidate partitions, so the work is (|Q| x |C|) / cluster, the right
  baseline to verify any ANN index against.
- lsh_topk: random-hyperplane LSH (sign of h deterministic projections,
  seeded) -> bucket join on band signatures -> exact cosine re-rank of
  candidates only. Recall is tunable via n_planes/n_bands; at 100 TB the
  bucket join replaces the full cross product with a shuffle keyed on
  uniformly-distributed signatures.

Also embedding_neardup: pairs with cosine >= threshold via the same LSH
bucketing — the embedding-space near-dup detector for training-data
pipelines.
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _as_double(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _norm(v) -> F.Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def brute_force_topk(queries: DataFrame, candidates: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     broadcast_candidates: bool = False) -> DataFrame:
    """Exact cosine top-k: (query_id, cand_id, sim, rank). Deterministic
    tie-break on cand_id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = candidates.select(
        F.col(id_col).alias("cand_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    if broadcast_candidates:
        c = F.broadcast(c)
    sims = q.crossJoin(c).select(
        "query_id",
        "cand_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _plane_literals(dim: int, n_planes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).round(6).tolist()


def signature_bits(df: DataFrame, dim: int, n_planes: int = 16, seed: int = 42,
                   vec_col: str = "embedding") -> DataFrame:
    """Append a bigint LSH signature: bit i = sign(v . plane_i).
    Planes are deterministic literals compiled into the expression tree —
    shipped once with the plan, not per row."""
    planes = _plane_literals(dim, n_planes, seed)
    v = _as_double(F.col(vec_col))
    sig = None
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(_dot(v, plane) >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return df.withColumn("lsh_sig", sig)


def _bands(sig_col, n_bands: int, bits_per_band: int) -> F.Column:
    mask = (1 << bits_per_band) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(sig_col, i * bits_per_band).bitwiseAND(F.lit(mask)).alias("bv"),
            )
            for i in range(n_bands)
        ]
    )


def lsh_topk(queries: DataFrame, candidates: DataFrame, dim: int, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_planes: int = 16, n_bands: int = 4, seed: int = 42) -> DataFrame:
    """ANN top-k: bucket join on LSH bands, exact cosine on candidates.
    Returns (query_id, cand_id, sim, rank) — a subset of brute force with
    recall < 1 (tested against the exact baseline)."""
    bits = n_planes // n_bands
    q = signature_bits(queries, dim, n_planes, seed, vec_col).select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.explode(_bands(F.col("lsh_sig"), n_bands, bits)).alias("b"),
    ).select("query_id", "qv", "b.band", "b.bv")
    c = signature_bits(candidates, dim, n_planes, seed, vec_col).select(
        F.col(id_col).alias("cand_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.explode(_bands(F.col("lsh_sig"), n_bands, bits)).alias("b"),
    ).select("cand_id", "cv", "b.band", "b.bv")
    cand_pairs = (
        q.join(c, ["band", "bv"])
        .select("query_id", "cand_id", "qv", "cv")
        .dropDuplicates(["query_id", "cand_id"])
    )
    sims = cand_pairs.select(
        "query_id",
        "cand_id",
        (_dot(F.col("qv"), F.col("cv")) / (_norm(F.col("qv")) * _norm(F.col("cv")))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def embedding_neardup(df: DataFrame, dim: int, threshold: float = 0.95,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_planes: int = 16, n_bands: int = 4, seed: int = 42,
                      bucket_cap: int | None = None):
    """Embedding-cosine near-dup pairs (id_a < id_b, sim >= threshold)
    via LSH bucketing + exact verification. Returns ``(pairs, obs)``
    where ``obs`` is the drop Observation when ``bucket_cap`` is set
    (``dropped_tokens``/``max_df`` after an action), else None.

    Candidates route through the grouped expansion (shared with the
    text-dedup stack): one shuffle keyed by an int64 band-bucket hash,
    the vector riding as the payload so the cosine verifies inline on
    pair rows — a self-join would shuffle full dim-sized vectors twice.

    ``bucket_cap`` is OPT-IN here, unlike the MinHash/SimHash paths:
    dropping an over-cap bucket is only sound when the band key is
    fine-grained enough (cardinality 2**(n_planes/n_bands) >>
    corpus_size / cap) that over-occupancy means an exact-duplicate
    cluster rather than ordinary neighbors. Recall-oriented configs use
    COARSE bands (few bits, e.g. the default 4), whose big buckets
    carry real signal — a cap there silently loses true pairs. At web
    scale: collapse exact-copy embeddings first (exact_dedup on a
    vector hash), use >=16 bits per band, and THEN set the cap; the
    returned Observation makes any residual drops visible."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops.dedup import (
        grouped_pair_expansion,
    )

    bits = n_planes // n_bands
    mask = (1 << bits) - 1
    sig = signature_bits(df, dim, n_planes, seed, vec_col)
    toks = sig.select(
        F.col(id_col).alias("vid"),
        _as_double(F.col(vec_col)).alias("v"),
        F.explode(
            F.array(*[
                F.xxhash64(
                    F.lit(i),
                    F.shiftright(F.col("lsh_sig"), i * bits).bitwiseAND(F.lit(mask)),
                )
                for i in range(n_bands)
            ])
        ).alias("bb"),
    )
    pairs, obs = grouped_pair_expansion(
        toks, id_col="vid", tok_col="bb", df_cap=bucket_cap, payload_col="v"
    )
    sim = _dot(F.col("payload_a"), F.col("payload_b")) / (
        _norm(F.col("payload_a")) * _norm(F.col("payload_b"))
    )
    # verify inline, filter, THEN dedup: the dedup shuffle carries only
    # true near-dups instead of every band-duplicated candidate
    out = (
        pairs.withColumn("sim", sim)
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        .dropDuplicates(["id_a", "id_b"])
    )
    return out, obs


# --------------------------------------------------------------- IVF

def kmeans_centroids(df: DataFrame, dim: int, k: int = 16, n_iter: int = 2,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     seed: int = 42) -> list[list[float]]:
    """Deterministic coarse quantizer: k seed centroids picked by id hash,
    refined with ``n_iter`` Lloyd steps run as DataFrame aggregations
    (groupBy assigned-centroid -> avg per dimension). Returns plain
    Python lists so callers can compile them into expressions.

    Determinism contract, precisely: at ``n_iter=0`` the centroids are
    an exact pure function of (ids, seed) — this is the variant the
    value-gated queries use. Lloyd-refined centroids (``n_iter>0``) are
    deterministic only up to FLOAT SUMMATION ORDER: ``F.sum`` over
    doubles re-associates with the partitioning, so refined centroid
    low-order bits can differ run-to-run and a vector sitting within
    an ulp of an argmin boundary may flip clusters. Callers that need
    bit-stable output across reruns (the correctness gate, reproducible
    corpus snapshots) use the seed quantizer; the refined variant
    trades that for tighter clusters, the standard k-means bargain.

    Driver-side state is k x dim floats; the per-iteration work is one
    shuffle keyed by centroid id (k keys, salted by AQE if skewed) —
    the sums arrive at the driver already reduced, never raw vectors.

    Growth bound, explicitly: every assignment path holds all k
    centroids in one place — a literal k x dim matrix below
    ``_GEMM_AUTO_K``, one broadcast numpy matrix from there up. That
    is ~100 MB at the SemDeDup paper's scale (k ~ 11k, dim ~ 1k) and
    becomes the binding bound near k ~ 10^5-10^6 (gigabytes), where
    assignment would need blocking over centroid shards; no workload
    here reaches it.
    """
    v = df.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("v"))
    # deterministic seeds: the k smallest md5(id) values
    seeds = (
        v.withColumn("_h", F.md5(F.col("_id").cast("string")))
        .orderBy("_h")
        .limit(k)
        .select("v")
        .collect()
    )
    cents = [list(r.v) for r in seeds]
    for _ in range(n_iter):
        assigned = v.withColumn("c", _nearest_centroid(F.col("v"), cents))
        sums = assigned.groupBy("c").agg(
            *[F.sum(F.element_at(F.col("v"), i + 1)).alias(f"s{i}") for i in range(dim)],
            F.count(F.lit(1)).alias("n"),
        )
        rows = {r["c"]: r for r in sums.collect()}
        cents = [
            [rows[ci][f"s{i}"] / rows[ci]["n"] for i in range(dim)] if ci in rows else cents[ci]
            for ci in range(len(cents))
        ]
    return cents


def _centroid_dists(v, cents: list[list[float]], grid: int | None = None) -> F.Column:
    """All k squared distances ||v - c_i||^2 as ONE array column at O(1)
    expression depth: the centroid matrix is one literal array-of-arrays
    and a single ``transform`` maps it to distances. A when-chain over
    centroids grows codegen linearly in k and falls out of JIT
    compilation around k ~ 256; this stays flat.

    ``grid`` floors each distance to 10^-grid inside the same
    ``transform`` so an independent engine computing the same distances
    with a different floating-point summation order (e.g. the DuckDB
    oracle's expanded v.v - 2v.c + c.c form, or ``_assign_gemm``)
    assigns identically — same fixed-point contract as the ANN sims.
    The contract's limit: a distance within an ulp of a 10^-grid
    boundary can floor to different grid points on the expression
    path, the GEMM path and DuckDB. None (the IVF default) keeps raw
    doubles."""
    cm = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])

    def dist(c):
        return F.aggregate(
            F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    if grid is None:
        return F.transform(cm, dist)
    m = float(10**grid)
    return F.transform(cm, lambda c: F.floor(dist(c) * m) / m)


def _nearest_centroid(v, cents: list[list[float]], grid: int | None = None):
    """argmin over `_centroid_dists`: position of the min (first
    occurrence, i.e. lowest index on exact ties — identical to a strict
    ``<`` when-chain)."""
    ds = _centroid_dists(v, cents, grid)
    return (F.array_position(ds, F.array_min(ds)) - 1).cast("int")


def ivf_topk(queries: DataFrame, candidates: DataFrame, dim: int, k: int = 10,
             n_centroids: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42) -> DataFrame:
    """IVF ANN: coarse-quantize candidates into inverted lists, probe the
    ``nprobe`` nearest lists per query, exact cosine re-rank inside.

    The probe join is an equi-join on centroid id (k keys); at scale the
    candidate side is pre-partitioned (bucketed) by centroid so probes
    co-locate without a shuffle."""
    cents = kmeans_centroids(candidates, dim, n_centroids, id_col=id_col,
                             vec_col=vec_col, seed=seed)
    c = candidates.select(
        F.col(id_col).alias("cand_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("c", _nearest_centroid(F.col("cv"), cents)).withColumn(
        "cn", _norm(F.col("cv"))
    )
    # per-query nprobe nearest centroids: explode a literal distance array
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    # all k distances as a single array, nprobe smallest by sort
    dists = F.zip_with(
        _centroid_dists(F.col("qv"), cents),
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda d, i: F.struct(d.alias("d"), i.alias("c")),
    )
    probed = q.withColumn(
        "c", F.explode(F.transform(F.slice(F.array_sort(dists), 1, nprobe), lambda s: s["c"]))
    )
    sims = probed.join(c, "c").select(
        "query_id",
        "cand_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _assign_gemm(df: DataFrame, cents: list[list[float]],
                 id_col: str, vec_col: str, grid: int | None,
                 normalize: bool = False) -> DataFrame:
    """Centroid assignment as one Arrow-batched numpy GEMM per input
    batch — the scale form of `_nearest_centroid`. The literal-matrix
    expression path is the right call at small k (pure JVM, zero
    Python), but it has two costs that grow with k: the k x dim
    literal tree is built/optimized on the DRIVER (a serial constant
    that at k ~ 512 measurably dominates a pinned scaling probe), and
    the higher-order-function argmin evaluates INTERPRETED at
    O(k * dim) per row. Here the centroid matrix ships once as a
    broadcast variable (numpy array, no expression tree at all) and
    each Arrow batch computes ``|v|^2 - 2 V @ C.T + |c|^2`` at BLAS
    speed — the expanded form the DuckDB oracle itself uses, floored
    to the same 10^-grid before the first-occurrence argmin, so the
    fixed-point assignment contract is unchanged (parity with the
    expression path is pinned by tests) — up to its stated limit: a
    distance within an ulp of a 10^-grid boundary can floor
    differently here, on the expression path and in DuckDB.

    ``normalize=True`` additionally emits the L2-normalized vector
    (``vn``) from the same numpy pass — callers that need it (the
    SemDeDup pair stage) would otherwise re-derive it through an
    interpreted per-element transform. Returns ``(id, cluster, dist
    [, vn])``."""
    import pandas as pd
    import pyspark.sql.types as T

    C = np.asarray(cents, dtype=np.float64)
    b_c = df.sparkSession.sparkContext.broadcast(C)
    m = float(10**grid) if grid is not None else None
    # carry the caller's id type through (string ids are as valid as
    # int64 here — nothing in the GEMM touches the id column)
    id_type = df.schema[id_col].dataType
    fields = [
        T.StructField(id_col, id_type),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("dist", T.DoubleType()),
    ]
    if normalize:
        fields.append(T.StructField("vn", T.ArrayType(T.DoubleType())))
    schema = T.StructType(fields)

    def block(batches):
        Cm = b_c.value
        cc = (Cm * Cm).sum(axis=1)
        # bound the n x k distance matrix to ~32 MB regardless of k:
        # one Arrow batch (10k rows) against k=4096 centroids would
        # otherwise allocate ~320 MB per batch per worker — allocator
        # and bandwidth churn that measurably taxes wide pinned runs
        rows_per_chunk = max(256, (1 << 25) // (8 * max(len(Cm), 1)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V0 = np.array(list(pdf[vec_col]), dtype=np.float64)
            ids0 = pdf[id_col].to_numpy()  # keep the native dtype
            for s in range(0, len(V0), rows_per_chunk):
                V = V0[s:s + rows_per_chunk]
                d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ Cm.T) + cc[None, :]
                # the expanded form can cancel to ~-1e-13 where the true
                # distance is 0 (every seed vector IS in the corpus, so
                # exact zeros always occur); clamp before flooring or the
                # floor turns them into a spurious -1/m
                np.maximum(d2, 0.0, out=d2)
                if m is not None:
                    d2 = np.floor(d2 * m) / m
                ci = np.argmin(d2, axis=1)  # first occurrence on ties,
                # the same lowest-index contract as array_position(min)
                out = {
                    id_col: ids0[s:s + rows_per_chunk],
                    "cluster": ci.astype(np.int32),
                    "dist": d2[np.arange(len(ci)), ci],
                }
                if normalize:
                    n = np.linalg.norm(V, axis=1, keepdims=True)
                    out["vn"] = list(np.divide(V, n, out=V.copy(), where=n > 0))
                yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(block, schema)


# Centroid assignment picks its path from k alone: below this cluster
# count the literal-expression assignment (zero Python, whole-plan JVM);
# from it up the driver-side literal tree and the interpreted
# O(k*dim)/row argmin dominate and the Arrow-batched GEMM wins.
_GEMM_AUTO_K = 64


def _cluster_drops_gemm(nrm: DataFrame, threshold: float, grid: int,
                        id_col: str = "_sid",
                        block_rows: int = 4096) -> DataFrame:
    """SemDeDup within-cluster drop set via one BLOCKED numpy GEMM per
    cluster (``applyInPandas`` over the cluster key) — round 7's scale
    form of the pair stage for the UNCAPPED path: instead of expanding
    every within-cluster pair into a row carrying two dim-sized vector
    payloads and folding an interpreted per-element dot over each
    (higher-order lambdas evaluate interpreted — measured ~2 s of the
    op's ~3 s at sf0.1), each cluster's normalized vectors cross the
    shuffle ONCE and all pairwise cosines come out of BLAS. Work and
    output are unchanged: drop j iff some i < j (id order) in the same
    cluster has floored-grid cosine >= threshold.

    The n_c x n_c similarity matrix is never materialized whole —
    ``block_rows`` rows at a time bound the buffer (same 32 MB doctrine
    as ``_assign_gemm``); per-task memory is the cluster's n_c x dim
    vector block, the same bound the grouped expansion's collect_list
    already implied. A degenerate hot cluster needs the capped
    expansion path instead (``bucket_cap`` — see ``semantic_dedup``).
    The floored-grid cosine shares the assignment contract's limit: a
    cosine within an ulp of a 10^-grid boundary can floor differently
    here, on the expression pair path and in DuckDB.
    Returns one ``(id,)`` row per dropped item (already distinct)."""
    import pandas as pd
    import pyspark.sql.types as T

    m = float(10**grid)
    thr = float(threshold)
    id_type = nrm.schema[id_col].dataType
    schema = T.StructType([T.StructField(id_col, id_type)])

    def drops(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pdf.iloc[0:0][[id_col]]
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = np.array(list(pdf["vn"]), dtype=np.float64)[order]
        dropped = np.zeros(n, dtype=bool)
        col = np.arange(n)[None, :]
        for s in range(0, n, block_rows):
            e = min(s + block_rows, n)
            S = V[s:e] @ V.T  # block_rows x n_c
            Sf = np.floor(S * m) / m
            hit = (Sf >= thr) & (col > np.arange(s, e)[:, None])
            dropped |= hit.any(axis=0)
        return pd.DataFrame({id_col: ids[dropped]})

    return nrm.groupBy("c").applyInPandas(drops, schema)


def semantic_dedup(df: DataFrame, dim: int, n_clusters: int = 16,
                   threshold: float = 0.95, n_iter: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 42, grid: int = 4,
                   bucket_cap: int | None = None):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then inside each cluster drop every item that has
    a LOWER-id neighbor with cosine >= threshold — semantic dedup that
    catches paraphrases exact/MinHash text dedup cannot, at k-partition
    cost instead of an all-pairs cross product.

    Returns ``(marked, obs)``: one row per input item —
    ``(id, cluster, keep)`` — plus the pair-expansion DropObservation
    when ``bucket_cap`` is set. Deterministic end-to-end: seeds are the
    k smallest md5(id) vectors, assignment argmin runs on the 10^-grid
    floored distance (first-index tie-break), the drop rule on the
    floored cosine with the lower id always surviving.

    Scale shape: assignment is a map-only pass (literal centroid
    expressions or the broadcast GEMM, by k — see below); the pairwise
    stage routes through the SAME capped grouped expansion as the
    text-dedup stack, keyed by cluster id, the vector riding as
    payload, so the whole op is ONE corpus shuffle plus the id-keyed
    keep-mark join. Within-cluster work is O((n/k)^2) —
    k must GROW with the corpus (the paper uses ~11k clusters for
    LAION-440M; target ~1-10k items/cluster) so each cluster-task stays
    bounded; ``bucket_cap`` turns a degenerate hot cluster into an
    observable drop instead of an OOM.

    Because k grows with the corpus, k picks the assignment machinery:
    below ``_GEMM_AUTO_K`` the literal centroid matrix (zero Python —
    right at small k); from it up the broadcast numpy matrix with one
    Arrow-batched GEMM per batch (``_assign_gemm``), because there the
    expression path's driver-built literal tree and interpreted
    O(k*dim)/row argmin become a measured serial bottleneck (the
    pinned 4-vs-16 probe at k=512 scaled at 0.54 on the expression
    path). Both share the floored-grid first-min assignment contract
    and are parity-pinned by tests."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops.dedup import (
        grouped_pair_expansion,
    )

    cents = kmeans_centroids(df, dim, n_clusters, n_iter, id_col, vec_col, seed)
    if n_clusters >= _GEMM_AUTO_K:
        # one Arrow pass yields assignment AND the normalized vector.
        # The result feeds TWO consumers (the pair expansion and the
        # final keep-mark join) whose plan prefixes are not identical
        # exchanges, so without materialization the scan + GEMM would
        # execute twice — the same two-jobs-one-lineage shape the
        # token_budget fix addressed. localCheckpoint pins one copy
        # (executor-local, lineage cut — the deliberate trade
        # documented at token_budget).
        ag = _assign_gemm(
            df, cents, id_col, vec_col, grid, normalize=True
        ).localCheckpoint(eager=False)
        asg = ag.select(F.col(id_col).alias("_sid"), F.col("cluster").alias("c"))
        nrm = ag.select(F.col(id_col).alias("_sid"), F.col("cluster").alias("c"), "vn")
    else:
        v = df.select(F.col(id_col).alias("_sid"), _as_double(F.col(vec_col)).alias("v"))
        asg = v.withColumn("c", _nearest_centroid(F.col("v"), cents, grid=grid))
        # normalize BEFORE the expansion: the pair stage then computes ONE
        # dot product instead of dot + two norms — higher-order lambdas run
        # interpreted per element, so per-pair work dominates this op
        # (norms are O(n), pairs O((n/k)^2)). The norm is staged through a
        # column referenced twice (guard + lambda) so CollapseProject keeps
        # it per-row instead of inlining the aggregate into the lambda body,
        # where it would re-run per ELEMENT; the guard also keeps zero
        # vectors finite (never similar to anything) instead of NaN.
        nrm = asg.withColumn("_n", _norm(F.col("v"))).select(
            "_sid", "c",
            F.when(
                F.col("_n") > 0, F.transform("v", lambda x: x / F.col("_n"))
            ).otherwise(F.col("v")).alias("vn"),
        )
    if bucket_cap is None:
        # uncapped path: per-cluster blocked GEMM (see _cluster_drops_gemm)
        # — same drop rule, vectors cross the cluster shuffle once, no
        # interpreted per-pair dot, no pair-row payload materialization
        obs = None
        dropped = _cluster_drops_gemm(
            nrm.select("_sid", "c", "vn"), threshold, grid
        ).withColumn("_drop", F.lit(1))
    else:
        pairs, obs = grouped_pair_expansion(
            nrm.select("_sid", F.col("c").cast("bigint").alias("ck"), "vn"),
            id_col="_sid", tok_col="ck", df_cap=bucket_cap, payload_col="vn",
        )
        m = float(10**grid)
        sim = _dot(F.col("payload_a"), F.col("payload_b"))
        dropped = (
            pairs.where(F.floor(sim * m) / m >= threshold)
            .select(F.col("id_b").alias("_sid"))
            .distinct()
            .withColumn("_drop", F.lit(1))
        )
    marked = asg.join(dropped, "_sid", "left").select(
        F.col("_sid").alias(id_col),
        F.col("c").alias("cluster"),
        F.col("_drop").isNull().alias("keep"),
    )
    return marked, obs


def cluster_sample(df: DataFrame, dim: int, n_clusters: int = 16,
                   per_cluster: int = 4, n_iter: int = 0,
                   mode: str = "prototype",
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: int = 42, grid: int = 4) -> DataFrame:
    """Cluster-balanced coreset selection over the embedding space —
    the SSL-prototypes pruning rule (Sorscher et al. 2022, "Beyond
    neural scaling laws", arXiv:2206.14486): k-means the corpus, rank
    items within each cluster by distance to their centroid, keep
    ``per_cluster`` per cluster. ``mode="prototype"`` keeps the most
    central items (dedup-flavored pruning: drop redundant shell);
    ``mode="outlier"`` keeps the most peripheral (hard-example
    pruning, the paper's choice in the abundant-data regime). Either
    way the selection is balanced across the embedding space instead
    of collapsing onto the densest region the way global top-k
    selection does.

    Returns one row per input item: ``(id, cluster, dist, rank,
    keep)`` — keep = rank <= per_cluster. Deterministic end-to-end:
    seeds are the k smallest md5(id) vectors (shared `kmeans_centroids`
    quantizer), assignment and ranking both run on the 10^-grid
    floored squared distance with id ascending as the tiebreak.

    Scale shape: assignment is a MAP-ONLY pass (literal centroid
    expressions below ``_GEMM_AUTO_K``, the broadcast GEMM from it up —
    the `semantic_dedup` rule); ranking is one exchange — a window
    partitioned by cluster id. A window partition is a single task, so
    as with `semantic_dedup`, ``n_clusters`` must GROW with the corpus
    (target ~1-10k items/cluster) to bound per-task work; unlike the
    pair stage there, the work here is O(n/k log(n/k)) per cluster,
    not quadratic."""
    if mode not in ("prototype", "outlier"):
        raise ValueError(f"unknown mode: {mode!r}")
    cents = kmeans_centroids(df, dim, n_clusters, n_iter, id_col, vec_col, seed)
    if n_clusters >= _GEMM_AUTO_K:
        asg = _assign_gemm(df, cents, id_col, vec_col, grid).select(
            id_col, "dist", "cluster"
        )
    else:
        v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
        ds = _centroid_dists(F.col("v"), cents, grid)
        asg = v.select(
            id_col,
            F.array_min(ds).alias("dist"),
            (F.array_position(ds, F.array_min(ds)) - 1).cast("int").alias("cluster"),
        )
    order = F.asc("dist") if mode == "prototype" else F.desc("dist")
    w = Window.partitionBy("cluster").orderBy(order, F.asc(id_col))
    return asg.select(
        id_col,
        "cluster",
        "dist",
        F.row_number().over(w).cast("int").alias("rank"),
    ).withColumn("keep", F.col("rank") <= per_cluster)


def brute_force_topk_gemm(queries: DataFrame, candidates: DataFrame, k: int = 10,
                          id_col: str = "vec_id", vec_col: str = "embedding",
                          max_queries: int = 100_000) -> DataFrame:
    """Exact cosine top-k via blocked matrix multiplication: the query
    matrix (normalized, assumed broadcast-small) rides into an Arrow-
    batched mapInPandas over candidate partitions; each batch is one
    numpy GEMM, and only per-batch top-k survive to the final global
    top-k reduction. Identical results to brute_force_topk including
    exact-sim ties (per-batch selection is lexicographic on
    (-sim, cand_id), the same tie-break as the final window), ~BLAS
    speed instead of per-pair expression evaluation — the right exact
    baseline when |Q| x |C| is large.

    The query side is collected to the driver for broadcast;
    ``max_queries`` guards that collect (beyond it, flip the sides or
    use the LSH/IVF paths).
    """
    import pandas as pd
    import pyspark.sql.types as T
    from pyspark.sql import Window as W

    n_q = queries.count()
    if n_q > max_queries:
        raise ValueError(
            f"brute_force_topk_gemm collects the query side to the driver; "
            f"got {n_q} queries > max_queries={max_queries}. Swap sides or "
            f"use lsh_topk/ivf_topk."
        )
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    spark = queries.sparkSession
    b_q = spark.sparkContext.broadcast((q_ids, qm))

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def block(batches):
        ids, Q = b_q.value
        for pdf in batches:
            C = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(C) == 0:
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            # pre-order columns by cand_id asc so a STABLE sort on -sim
            # is lexicographic (-sim, cand_id) — the same tie-break as
            # the final global window; argpartition would keep an
            # arbitrary candidate among exact ties at the k-boundary.
            order = np.argsort(cids, kind="stable")
            cids, C = cids[order], C[order]
            C /= np.linalg.norm(C, axis=1, keepdims=True)
            sims = Q @ C.T  # (|Q| x batch) GEMM
            take = min(k, sims.shape[1])
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :take]
            out_q = np.repeat(ids, take)
            out_c = cids[idx].ravel()
            out_s = np.take_along_axis(sims, idx, axis=1).ravel()
            yield pd.DataFrame({"query_id": out_q, "cand_id": out_c, "sim": out_s})

    partial = candidates.select(id_col, vec_col).mapInPandas(block, schema)
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return partial.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def seed_similarity_scores(df: DataFrame, seeds: DataFrame,
                           id_col: str = "vec_id", vec_col: str = "embedding",
                           max_seeds: int = 256) -> DataFrame:
    """Classifier-style quality selection by embedding similarity to a
    curated SEED set (the GPT-3-lineage curation filter: score every
    corpus doc by its closest high-quality exemplar, keep the top).
    Returns ``(id, seed_sim)`` where ``seed_sim`` = max cosine over the
    seed vectors.

    Scale shape: the seed set is tiny by construction (hand-curated
    exemplars), so the vectors are collected once (guarded by
    ``max_seeds`` — raises beyond it) and compiled into the expression
    tree as literals, like the LSH plane literals: scoring is then a
    PURE per-row map — zero joins, zero shuffles, rides whatever scan
    touches the embedding column. Seed norms are pre-computed
    driver-side (same left-fold double arithmetic the engines use, so
    the oracle reproduces values exactly); only the doc-side norm is
    computed per row. For thousands of seeds use the GEMM top-k path
    (``brute_force_topk_gemm``) instead of expression literals."""
    import math

    rows = seeds.select(vec_col).limit(max_seeds + 1).collect()
    if len(rows) > max_seeds:
        raise ValueError(
            f"seed_similarity_scores: seed set exceeds max_seeds={max_seeds}; "
            "use brute_force_topk_gemm for large seed sets"
        )
    if not rows:
        raise ValueError("seed_similarity_scores: empty seed set")
    v = _as_double(F.col(vec_col))
    vn = _norm(v)
    sims = []
    for r in rows:
        s = [float(x) for x in r[0]]
        ns = math.sqrt(sum(x * x for x in s))
        lit = F.array(*[F.lit(x) for x in s])
        sims.append(_dot(v, lit) / (vn * F.lit(ns)))
    best = sims[0] if len(sims) == 1 else F.greatest(*sims)
    return df.select(F.col(id_col), best.alias("seed_sim"))
