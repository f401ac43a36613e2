"""Deduplication operators for a training-data pipeline.

Four tiers, all deterministic and shuffle-conscious:

- exact:        hash-groupBy on a content fingerprint (cheapest)
- minhash_lsh:  shingle -> 64-perm MinHash -> banded LSH buckets ->
                candidate pairs -> exact-Jaccard verification
- simhash:      64-bit sign-random-projection over token hashes; near-dup
                when hamming distance <= k (banded on 16-bit chunks)
- embedding:    random-hyperplane LSH over an embedding column with exact
                cosine verification (see similarity.py for the ANN path)

Scale notes: every stage is expression-only (whole-stage codegen; no
Python in the hot path). ALL candidate generation (n-gram, MinHash-LSH,
SimHash) routes through one machinery — ``grouped_pair_expansion`` —
one shuffle keyed by an int64 bucket hash, k^2 pair expansion bounded
by an observable per-bucket cap. Buckets over the cap are dropped:
usually band-hash collisions with no similarity signal, but a large
NEAR-duplicate cluster (e.g. >cap templated pages differing by a
counter) also overflows every band and its true pairs drop with it —
the entry points expose the drop count via ``obs_out`` so that loss is
never invisible. For exact-duplicate mega-clusters (ubiquitous at web
scale, and they share EVERY band) run ``exact_dedup`` first and feed
only keepers. At
100 TB you tune n_bands/rows_per_band for the target Jaccard threshold
s ~ (1/b)^(1/r) and the verify stage stays proportional to the
true-duplicate density.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

# MinHash parameters: 64 permutations = 16 bands x 4 rows -> s-curve
# threshold ~ (1/16)^(1/4) ~ 0.5
N_PERM = 64
N_BANDS = 16
# 2^31-1 (Mersenne prime). Shingle hashes and permutation coefficients
# stay below 2^31 so a*h+b fits in int64 under ANSI arithmetic.
_MERSENNE = (1 << 31) - 1


def _perm_params(n: int = N_PERM, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n, dtype=np.int64)
    return a.tolist(), b.tolist()


def tokenize(text_col) -> F.Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def shingles_from_tokens(tk, k: int = 3) -> F.Column:
    """Distinct k-gram word shingles over a token-array column; JVM-side
    (no UDF). ``tk`` MUST be a real column (not an inline tokenize()
    expression): Catalyst inlines a raw expression into every element_at
    in the transform lambda, re-splitting the text per element —
    O(tokens^2) per doc. Callers stage the array with
    ``.select(..., tokenize(col).alias("_tk"))`` first; the non-cheap
    multi-referenced alias blocks CollapseProject from re-inlining."""
    return F.when(
        F.size(tk) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - (k - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(tk, i + j) for j in range(k)]
                ),
            )
        ),
    ).otherwise(F.array(F.array_join(tk, " ")))


def shingles(text_col, k: int = 3) -> F.Column:
    """Distinct k-gram word shingles from raw text. Prefer
    `shingles_from_tokens` over a staged token column in hot paths —
    this form re-splits the text per element (see there)."""
    return shingles_from_tokens(tokenize(text_col), k)


def _content_fingerprint(text_col: str) -> F.Column:
    """Normalized-content hash shared by exact_dedup and dedup_pipeline —
    one definition so the exact-duplicate grouping can't drift."""
    return F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                fingerprint: F.Column | None = None) -> DataFrame:
    """Exact dedup on a content fingerprint; keeper = min id per group
    (one window shuffle on the fingerprint — no join).

    ``fingerprint`` overrides the default whole-text normalized-content
    hash, e.g. a head fingerprint over the first k tokens for
    prefix-dedup of boilerplate-led corpora."""
    if fingerprint is None:
        fingerprint = _content_fingerprint(text_col)
    d = df.select(id_col, fingerprint.alias("fingerprint"))
    w = Window.partitionBy("fingerprint")
    return d.select(
        id_col,
        "fingerprint",
        F.min(id_col).over(w).alias("keep_id"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_dup"),
    )


class SeenBloom:
    """Bloom-compacted summary of a seen-fingerprint history, built by
    ``build_seen_bloom``. Probing has NO false negatives by
    construction (every build-time position was set by the same JVM
    hash expressions the probe computes), so ``incremental_dedup`` can
    use it purely as a PRE-FILTER: rows the bloom clears are
    definitely new and skip the anti-join entirely; bloom-positive
    rows (true dups plus the fpp tail) still get the exact anti-join.
    Output semantics are therefore identical with or without the bloom
    — it only shrinks the join input, which is the point: a year of
    ingest history compacts to ``n_bits/8`` bytes shipped once per
    batch instead of a fingerprint table crossing a shuffle every day.

    The probe computes the k bit positions JVM-side (xxhash64 — the
    build and probe share one expression factory) and tests them
    against the broadcast word array in one vectorized Arrow batch op;
    the word array never enters the query plan (no literal-tree build
    cost, no 64k element_at bound — n_bits is limited by executor
    memory, not plan size)."""

    def __init__(self, words: "np.ndarray", n_bits: int, n_hashes: int, seed: int):
        assert n_bits % 64 == 0 and len(words) == n_bits // 64
        self.words = words
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.seed = seed
        self._bc = None  # broadcast of `words`, created once per context

    def _positions(self, c: F.Column) -> F.Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(c, F.lit(self.seed + i)), F.lit(self.n_bits))
                for i in range(self.n_hashes)
            ]
        )

    def might_contain(self, c: F.Column) -> F.Column:
        from pyspark.sql import SparkSession
        from pyspark.sql.functions import pandas_udf

        # getActiveSession() is None on non-main threads with no active
        # session — fall back to the builder rather than dying on
        # `.sparkContext` of None (ADVICE round 6).
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        # broadcast the word array ONCE per SeenBloom (ADVICE round 6:
        # each might_contain call used to create a fresh broadcast)
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(self.words)
        b = self._bc

        @pandas_udf("boolean")
        def probe(pos: pd.Series) -> pd.Series:
            W = b.value
            if len(pos) == 0:
                return pd.Series([], dtype=bool)
            P = np.array(list(pos), dtype=np.int64)
            # arithmetic shift on a possibly-negative word still
            # extracts the addressed bit
            hit = (W[P >> 6] >> (P & 63)) & 1
            return pd.Series(hit.all(axis=1))

        return probe(self._positions(c))


def build_seen_bloom(seen: DataFrame, fingerprint_col: str = "fingerprint",
                     n_bits: int = 1 << 22, n_hashes: int = 4,
                     seed: int = 7) -> SeenBloom:
    """Distributed bloom build over a seen-fingerprint table: every
    fingerprint's k positions explode to (word, bit) rows, one
    map-side-combined groupBy ORs each word's bits, and the driver
    materializes only the n_bits/64-long word array (for the default
    2^22 bits: 512 KiB — the compaction). Size n_bits ~ 10 x expected
    fingerprints for ~1% false positives; fpp only costs anti-join
    input, never correctness."""
    if n_bits % 64 != 0:
        raise ValueError("n_bits must be a multiple of 64")
    proto = SeenBloom(np.zeros(n_bits // 64, dtype=np.int64), n_bits, n_hashes, seed)
    rows = (
        seen.select(F.explode(proto._positions(F.col(fingerprint_col))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.pmod(F.col("pos"), F.lit(64)).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(
            F.bit_or(
                F.call_function("shiftleft", F.lit(1).cast("bigint"), F.col("bit"))
            ).alias("w")
        )
        .collect()
    )
    words = np.zeros(n_bits // 64, dtype=np.int64)
    for r in rows:
        words[r["word"]] = r["w"]
    return SeenBloom(words, n_bits, n_hashes, seed)


def incremental_dedup(batch: DataFrame, seen: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      fingerprint_col: str = "fingerprint",
                      broadcast_seen: bool = False,
                      bloom: SeenBloom | None = None,
                      seen_buckets: int | None = None) -> DataFrame:
    """Dedup a NEW ingest batch against a historical fingerprint set —
    the daily-ingest form of `exact_dedup`: a 100 TB corpus is never
    re-deduped from scratch when a day's crawl lands; the new batch is
    collapsed within itself, then anti-joined against the fingerprints
    of everything already kept. ``seen`` needs only a
    ``fingerprint_col`` column (the projection this op returns — feed
    survivors back as the next batch's seen side; duplicates in seen
    are harmless to anti-join semantics, so no distinct pass).

    Scale shape: ONE batch shuffle total — the within-batch keeper
    window hash-partitions the batch by fingerprint and the anti-join
    reuses that exact partitioning (exchange reuse: join keys ==
    window keys), so the batch's text bytes cross the wire once. The
    seen side moves only its 32-char fingerprints (column-pruned scan);
    with ``broadcast_seen`` (small/bloom-compacted histories) the
    anti-join is broadcast and the seen shuffle disappears too.
    Returns the surviving batch rows with ``fingerprint_col`` attached
    for appending to the history.

    ``bloom`` (a ``build_seen_bloom`` summary of the history) is probed
    once per batch row after the keeper window and its verdict rides
    inside the anti-join condition: a bloom-cleared row (DEFINITELY
    new — no false negatives) can never satisfy the condition, so it
    survives untouched; bloom-positive rows — the true-dup fraction
    plus ~fpp of the rest — get the exact fingerprint anti-join.
    Identical output to the bloom-less path, in one pass: the equi key
    still drives a hash/sort-merge join and the keeper window's
    partitioning is reused, so the shuffle count is unchanged.

    ``seen_buckets`` is the layout contract for a BUCKETED history
    (``bucketing.write_bucketed(seen, table, [fingerprint_col],
    n_buckets)``; pass ``spark.table(table)`` as ``seen``): the batch
    is explicitly repartitioned to the same (key, count) hash layout,
    which the keeper window AND the anti-join both satisfy — so the
    plan carries exactly ONE exchange (the batch's), and the history
    side is read pre-partitioned from disk, never shuffled, on every
    daily run. That is the compaction story for multi-year histories
    too big to bloom tightly: bucket once at write time, then each
    ingest pays only its own batch-sized shuffle."""
    d = batch.withColumn(fingerprint_col, _content_fingerprint(text_col))
    if seen_buckets is not None:
        d = d.repartition(seen_buckets, fingerprint_col)
    w = Window.partitionBy(fingerprint_col)
    d = (
        d.withColumn("_keep_id", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("_keep_id"))
        .drop("_keep_id")
    )
    s = seen.select(fingerprint_col)
    if broadcast_seen:
        s = F.broadcast(s)
    if bloom is None:
        return d.join(s, fingerprint_col, "left_anti")
    # ONE-pass formulation (round 7; ADVICE round 6 flagged the previous
    # fresh/candidates two-branch union for evaluating the bloom probe —
    # and the keeper window above the reused exchange — twice): the
    # bloom verdict rides INSIDE the anti-join condition. A row with
    # ``_mc = false`` (bloom-cleared, definitely new) can never satisfy
    # the condition, so it survives the anti-join untouched — exactly
    # the old ``fresh`` branch; ``_mc = true`` rows get the exact
    # anti-join — exactly the old ``candidates`` branch. The equi key
    # is still extracted (hash/SMJ join, never nested-loop), the window
    # partitioning is still reused, and the probe evaluates once.
    mc = bloom.might_contain(F.col(fingerprint_col))
    d = d.withColumn("_mc", mc)
    s2 = s.withColumnRenamed(fingerprint_col, "_seen_fp")
    cond = F.col("_mc") & (F.col(fingerprint_col) == F.col("_seen_fp"))
    return d.join(s2, on=cond, how="left_anti").drop("_mc")


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Text-expansion ops (shingling, hashing, n_perm aggregates) do
    ~100x work per input BYTE, so a scan split by file size
    under-parallelizes small inputs — one sub-2MB parquet file is a
    single task doing all the shingling. Repartition by the doc key up
    to default parallelism when the scan has fewer splits; a no-op at
    scale, where the input already carries thousands of splits."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p, key)
    return df


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_perm: int = N_PERM, seed: int = 42,
                       shingle_hash: str = "xxhash64") -> DataFrame:
    """(id, sig: array<bigint>[n_perm]) via explode + single groupBy with
    n_perm min-aggregates (one shuffle, map-side combined).

    ``shingle_hash`` picks the 31-bit base hash the permutations act on:
    ``"xxhash64"`` (default, folded mod 2^31-1) is the production fast
    path; ``"md5"`` (first 8 hex chars of md5(shingle), mod 2^31-1) is
    bit-identical to what DuckDB computes from the same text, so the
    driver's correctness gate can recompute full signatures — and the
    banding built on them — in SQL. Everything downstream of the base
    hash is shared code."""
    a, b = _perm_params(n_perm, seed)
    df = _spread(df, id_col)
    # 31-bit shingle hash keeps a*h+b inside int64.
    #
    # Formulation notes (probe-measured at 320k docs / 16 pinned
    # cores): explode + 64-min hash-aggregate = 37s; the same with the
    # base hash inlined into every aggregate = 45s (hash recomputed 64x
    # per row); a zero-shuffle array-native formulation (array_min over
    # a transform per permutation) = 44s — higher-order-function
    # lambdas evaluate interpreted per element, losing more than the
    # aggregate exchange costs. The explode+groupBy aggregate stays.
    if shingle_hash == "xxhash64":
        # string-free fast path: hash the word TRIPLE directly
        # (xxhash64 chains its arguments) instead of materializing a
        # 3-word string per shingle — shingle-string allocation cost,
        # no string bytes through the shuffle. Distinct triples ==
        # distinct shingle strings, so MinHash semantics are unchanged;
        # only the (arbitrary) base-hash values differ from the string
        # formulation. Token array STAGED through a column — inlined it
        # re-splits per element_at, O(tokens^2)/doc (shingles_from_tokens).
        tk = F.col("_tk")
        hashes = F.when(
            F.size(tk) >= 3,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(tk) - 2),
                    lambda i: F.xxhash64(
                        F.element_at(tk, i),
                        F.element_at(tk, i + 1),
                        F.element_at(tk, i + 2),
                    ),
                )
            ),
        ).otherwise(F.array(F.xxhash64(F.array_join(tk, " "))))
        sh = df.select(
            F.col(id_col), tokenize(F.col(text_col)).alias("_tk")
        ).select(F.col(id_col), F.explode(hashes).alias("sh"))
        h = F.pmod(F.col("sh"), F.lit(_MERSENNE))
    elif shingle_hash == "md5":
        # gate variant: the DuckDB oracle recomputes this from the
        # shingle STRING, so the string path stays
        sh = df.select(
            F.col(id_col), tokenize(F.col(text_col)).alias("_tk")
        ).select(
            F.col(id_col), F.explode(shingles_from_tokens(F.col("_tk"))).alias("sh")
        )
        h = F.pmod(
            F.conv(F.substring(F.md5(F.col("sh")), 1, 8), 16, 10).cast("long"),
            F.lit(_MERSENNE),
        )
    else:
        raise ValueError(f"unknown shingle_hash: {shingle_hash!r}")
    # project the base hash ONCE: inlining `h` into the aggregates
    # embeds the hash expression in all n_perm min()s and it is
    # recomputed per permutation per row (the non-cheap multi-referenced
    # alias blocks CollapseProject from undoing this)
    hashed = sh.select(F.col(id_col), h.alias("h"))
    aggs = [
        F.min(
            F.pmod(F.col("h") * F.lit(int(a[i])) + F.lit(int(b[i])), F.lit(_MERSENNE))
        ).alias(f"m{i}")
        for i in range(n_perm)
    ]
    sigs = hashed.groupBy(id_col).agg(*aggs)
    return sigs.select(id_col, F.array(*[f"m{i}" for i in range(n_perm)]).alias("sig"))


def minhash_lsh_candidates(sigs: DataFrame, id_col: str = "doc_id",
                           n_bands: int = N_BANDS,
                           bucket_cap: int | None = 512) -> tuple[DataFrame, "DropObservation | None"]:
    """Banded LSH: docs sharing any band signature become a candidate
    pair, via the capped grouped expansion (one shuffle keyed by the
    band-bucket hash — uniform by construction).

    A bucket of k docs expands k^2/2 pairs, and exact duplicates share
    ALL bands — at web scale a mega-cluster of identical documents would
    otherwise blow up a single task 16 times over. Buckets larger than
    ``bucket_cap`` are dropped (observable via the returned Observation:
    ``dropped_tokens``/``max_df``), so duplicate CLUSTERS above the cap
    must be collapsed by an ``exact_dedup`` pre-pass (see
    ``minhash_dedup``). Most other over-cap buckets are random
    band-hash collisions with no similarity signal — but a NEAR-dup
    cluster larger than the cap (which exact_dedup cannot collapse)
    also overflows its bands, so callers should surface the drop count
    rather than assume collisions (see ``obs_out`` on the entry
    points).

    The bucket key folds (band_idx, band_values) into one int64 xxhash64
    — cheaper to shuffle than a struct, and a hash collision can only
    MERGE two buckets (extra candidates that exact-Jaccard verification
    rejects), never lose a true pair.
    """
    r = F.size(F.col("sig")) / n_bands
    bands = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda bidx: F.xxhash64(
                    bidx,
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(
                                F.col("sig"),
                                (bidx * r + 1).cast("int"),
                                r.cast("int"),
                            ),
                            lambda v: v.cast("string"),
                        ),
                    ),
                ),
            )
        ).alias("bb"),
    )
    pairs, obs = grouped_pair_expansion(
        bands, id_col=id_col, tok_col="bb", df_cap=bucket_cap
    )
    # a pair sharing several bands expands once per band
    return pairs.distinct(), obs


class DropObservation:
    """Drop metrics for the capped pair expansion.

    Wraps the ``Observation`` attached to the per-token window-count
    rows. ``get`` normalizes the raw metrics: on an empty input the
    aggregates come back NULL (reported as zero drops), and the
    empty-row guard is kept defensively — if an optimizer rule ever
    removes the CollectMetrics node from the executed plan (round 4:
    AQE's empty-relation propagation did exactly that to a
    broadcast-anti formulation of the cap), an empty row reads as zero
    drops instead of raising deep in Py4J.

    Like ``Observation.get``, ``get`` waits for the first action on the
    consuming DataFrame.
    """

    def __init__(self, obs: Observation):
        self._obs = obs

    @property
    def get(self) -> dict:
        jrow = self._obs._jo.getRow()  # blocks until the first action
        if jrow.length() == 0:
            return {"dropped_tokens": 0, "max_df": None}
        d = self._obs.get
        return {"dropped_tokens": int(d["dropped_tokens"] or 0),
                "max_df": d["max_df"]}


def grouped_pair_expansion(
    toks: DataFrame,
    id_col: str = "doc_id",
    tok_col: str = "tok",
    df_cap: int | None = 256,
    payload_col: str | None = None,
) -> tuple[DataFrame, "DropObservation | None"]:
    """Ordered candidate pairs from a (id, token) table in ONE shuffle:
    group by token, sorted doc-list per token, pairs expanded inline —
    ~2x faster than the self-join formulation (no second shuffle of the
    token table).

    A token shared by k docs expands k^2/2 pairs in one task, so tokens
    with document frequency above ``df_cap`` (stop-shingles — they carry
    no discriminative similarity) are DROPPED before expansion; at 100 TB
    one hot shingle would otherwise OOM a single task. The drop is not
    silent: the returned Observation reports ``dropped_tokens`` and
    ``max_df`` once an action consumes the pairs. ``df_cap=None``
    disables the cap (test-scale only).

    ``payload_col`` rides a per-doc value (e.g. a simhash) through the
    expansion so verification can run inline on the pair rows — output
    gains ``payload_a``/``payload_b`` columns — instead of re-joining
    the doc table twice (two extra shuffles at corpus width).

    Over-cap tokens are removed BEFORE the collect_list, not after,
    via a per-token window count that SHARES the collect's exchange:
    one hash partition by token, a window count + row-number (one
    WindowExec, disk-spillable per group), the cap filter, then the
    collect aggregate runs on the already-partitioned survivors with no
    further exchange. A 10^7-member hot bucket therefore never reaches
    a collect_list buffer (those arrays cannot spill), and — unlike a
    separate count pass — the expensive upstream of ``toks`` (e.g. the
    MinHash signature aggregation) executes exactly ONCE. Total plan:
    one exchange, plan-asserted in tests.
    """
    if payload_col is None:
        collected = F.collect_list(id_col)
    else:
        collected = F.collect_list(F.struct(F.col(id_col), F.col(payload_col)))
    obs: DropObservation | None = None
    if df_cap is not None:
        wspec = Window.partitionBy(tok_col).orderBy(id_col)
        frame = wspec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        raw = Observation()
        toks = (
            toks.withColumn("_df", F.count(F.lit(1)).over(frame))
            .withColumn("_rn", F.row_number().over(wspec))
            .observe(
                raw,
                # first row of each over-cap token group counts it once
                F.count(
                    F.when((F.col("_df") > df_cap) & (F.col("_rn") == 1), 1)
                ).alias("dropped_tokens"),
                F.max("_df").alias("max_df"),
            )
            .where(F.col("_df") <= df_cap)
            .drop("_df", "_rn")
        )
        obs = DropObservation(raw)
    groups = (
        # ids are unique, so sorting structs (id first) orders by id
        toks.groupBy(tok_col)
        .agg(F.sort_array(collected).alias("ds"))
        .where(F.size("ds") > 1)
    )
    if payload_col is None:
        mk = lambda a, b: F.struct(a.alias("id_a"), b.alias("id_b"))  # noqa: E731
        out_cols = ["p.id_a", "p.id_b"]
    else:
        mk = lambda a, b: F.struct(  # noqa: E731
            a[id_col].alias("id_a"),
            b[id_col].alias("id_b"),
            a[payload_col].alias("payload_a"),
            b[payload_col].alias("payload_b"),
        )
        out_cols = ["p.id_a", "p.id_b", "p.payload_a", "p.payload_b"]
    pairs = groups.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                        lambda b: mk(a, b),
                    ),
                )
            )
        ).alias("p")
    ).select(*out_cols)
    return pairs, obs


def jaccard_verify(df: DataFrame, candidates: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", threshold: float = 0.5) -> DataFrame:
    """Exact shingle-Jaccard on candidate pairs only (never all-pairs).

    Two shuffle-width controls (the verify join dominated the dedup
    pipeline's profile before them):

    - shingles are folded to int64 xxhash64 keys before any join —
      smaller shuffle rows and cheaper compares than 3-word strings; a
      collision (p ~ |shingles|^2 / 2^64 per doc pair) could only nudge
      one intersection count, and the per-doc sets are distinct
      pre-hash;
    - the shingle table is semi-join-pruned to docs that actually
      appear in a candidate pair BEFORE the wide (id, shingle) shuffle
      — candidates cover a small fraction of a web corpus, and AQE
      broadcasts the candidate-doc set when it is small.
    """
    sh = _spread(df, id_col).select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_tk")
    ).select(
        F.col(id_col),
        F.explode(
            F.transform(
                shingles_from_tokens(F.col("_tk")), lambda s: F.xxhash64(s)
            )
        ).alias("sh"),
    )
    docs_in_play = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = sh.join(docs_in_play, id_col, "left_semi")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh"))
    inter = (
        candidates.join(a, "id_a")
        .join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  threshold: float = 0.5, bucket_cap: int | None = 512,
                  obs_out: dict[str, "DropObservation"] | None = None,
                  shingle_hash: str = "xxhash64") -> DataFrame:
    """Full MinHash+LSH near-dup pipeline -> verified pairs.

    ``bucket_cap`` bounds per-bucket pair expansion (see
    minhash_lsh_candidates). Exact-duplicate clusters share every band,
    and so do large NEAR-duplicate clusters (e.g. thousands of
    templated pages differing by a date): either kind overflows any
    sane cap. Run ``exact_dedup`` first so byte-identical clusters
    collapse to one member — and pass ``obs_out`` (a dict the caller
    owns) to observe what the cap dropped: after an action consumes the
    result, ``obs_out["minhash_lsh_drops"].get`` reports
    ``dropped_tokens``/``max_df``. A non-zero drop count with a large
    ``max_df`` AFTER exact_dedup signals a near-dup mega-cluster whose
    pairs were lost — raise ``bucket_cap`` or handle that cluster out
    of band."""
    sigs = minhash_signatures(df, text_col, id_col, shingle_hash=shingle_hash)
    cand, obs = minhash_lsh_candidates(sigs, id_col, bucket_cap=bucket_cap)
    if obs_out is not None and obs is not None:
        obs_out["minhash_lsh_drops"] = obs
    return jaccard_verify(df, cand, text_col, id_col, threshold)


def dedup_pipeline(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   threshold: float = 0.5, bucket_cap: int | None = 512,
                   obs_out: dict[str, "DropObservation"] | None = None) -> DataFrame:
    """End-to-end web-scale dedup keeper assignment — the composition the
    bucket-cap contract requires, as one tested unit:

    1. ``exact_dedup`` collapses normalized byte-identical copies. This
       is what makes the LSH bucket cap SOUND: identical docs share
       every band, so a web-scale mega-cluster (often millions of
       copies of one page) would otherwise overflow any per-bucket cap
       and get dropped wholesale.
    2. ``minhash_dedup`` (LSH + exact-Jaccard verify, capped) runs over
       the exact KEEPERS only — at most one member per exact cluster in
       any bucket.
    3. Exact edges (keeper -> copy) union the verified near-dup edges
       into one graph; ``propagate_min_keeper`` assigns every doc the
       component-min id.

    Step 1 removes byte-identical mega-clusters, but a large NEAR-dup
    cluster (templated pages differing by a counter) still overflows
    the cap in step 2 and its pairs are dropped; pass ``obs_out`` to
    observe the drop count (see ``minhash_dedup``).

    Returns (id, keep_id, is_dup). Shuffle count: one for the exact
    fingerprint window, one for the MinHash signature groupBy, one for
    the band-bucket expansion, O(log diameter) label rounds — each
    stage map-side-combined and capped as documented on its operator.
    """
    ex = exact_dedup(df, text_col, id_col)
    # keepers via a fingerprint-window filter, NOT a join back onto ex:
    # a join would shuffle the full text-carrying corpus a second time;
    # the window shuffles it once on the same key exact_dedup groups by.
    # localCheckpoint (round 7): keepers feeds TWO text-consuming
    # subtrees (the MinHash signature build and the Jaccard verify);
    # exchange reuse already ran the scan+shuffle once, but each
    # consumer re-ran the window sort+filter over the exchange output —
    # materializing the keeper rows once trades one corpus-width local
    # write for the second sort pass (the full_curation doctrine).
    w = Window.partitionBy(_content_fingerprint(text_col))
    keepers = (
        df.withColumn("_k0", F.min(F.col(id_col)).over(w))
        .where(F.col(id_col) == F.col("_k0"))
        .drop("_k0")
        .localCheckpoint(eager=False)
    )
    near = minhash_dedup(keepers, text_col, id_col, threshold, bucket_cap,
                         obs_out=obs_out)
    exact_edges = ex.where(F.col("is_dup")).select(
        F.col("keep_id").alias("id_a"), F.col(id_col).alias("id_b")
    )
    edges = exact_edges.unionByName(near.select("id_a", "id_b"))
    keep = propagate_min_keeper(edges, df.select(id_col), id_col)
    return keep.withColumn("is_dup", F.col("keep_id") != F.col(id_col))


# ----------------------------------------------------------- SimHash

def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
              token_hash: str = "xxhash64") -> DataFrame:
    """64-bit SimHash over token hashes, expression-only: explode tokens,
    per-bit +-1 sums in ONE groupBy, reassemble the sign bits.

    ``token_hash`` picks the 64-bit per-token hash:

    - ``"xxhash64"`` (default): Spark's native xxhash64 — the fast
      production path (one JVM hash per token).
    - ``"md5"``: two 32-bit halves of md5(token), bit-identical to what
      DuckDB computes from the same text — the driver's correctness
      gate uses this variant so an independent engine can recompute the
      simhash VALUES and brute-force all-pairs hamming as an oracle
      (xxhash64 has no DuckDB equivalent). ~2-3x more hash cost; the
      banding/expansion/verify machinery downstream is byte-identical
      code for both variants.
    """
    toks = _spread(df, id_col).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("t")
    )
    if token_hash == "xxhash64":
        # single 64-bit hash; project it once so the 64 aggregates
        # below reference a column, not 64 copies of the hash expr
        hashed = toks.select(
            F.col(id_col), F.xxhash64(F.col("t")).alias("hlo")
        )
        bit = lambda i: F.shiftright(F.col("hlo"), i).bitwiseAND(F.lit(1))  # noqa: E731
    elif token_hash == "md5":
        # stage the md5 through a column: referencing the raw expression
        # from both halves evaluates md5 twice per token (round 7; the
        # non-cheap multi-referenced alias blocks CollapseProject)
        hashed = toks.select(
            F.col(id_col), F.md5(F.col("t")).alias("_m")
        ).select(
            F.col(id_col),
            F.conv(F.substring(F.col("_m"), 1, 8), 16, 10).cast("long").alias("hlo"),
            F.conv(F.substring(F.col("_m"), 9, 8), 16, 10).cast("long").alias("hhi"),
        )
        bit = lambda i: F.shiftright(  # noqa: E731
            F.col("hlo") if i < 32 else F.col("hhi"), i % 32
        ).bitwiseAND(F.lit(1))
    else:
        raise ValueError(f"unknown token_hash: {token_hash!r}")
    aggs = [
        F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ]
    per_bit = hashed.groupBy(id_col).agg(*aggs)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return per_bit.select(id_col, sim.alias("simhash"))


def _chunk_widths(n_chunks: int, total_bits: int = 64) -> list[int]:
    base = total_bits // n_chunks
    extra = total_bits % n_chunks
    return [base + (1 if i < extra else 0) for i in range(n_chunks)]


def simhash_pairs(hashes: DataFrame, id_col: str = "doc_id", max_hamming: int = 3,
                  n_chunks: int = 5,
                  bucket_cap: int | None = 512,
                  obs_out: dict[str, "DropObservation"] | None = None) -> DataFrame:
    """Near-dup pairs by hamming distance <= k, banded on 2-chunk
    COMBINATIONS of ``n_chunks`` bit-chunks.

    Pigeonhole: <=k differing bits touch at most k chunks, so with
    ``n_chunks >= k + 2`` at least two chunks are clean and the pair
    shares at least one 2-chunk combo band. The combo key carries
    ~2*64/n_chunks bits (26 for the default 5 chunks = 2^26 distinct
    values/band), so bucket cardinality grows with the corpus — unlike
    single 16-bit chunks, whose 65,536 buckets fill linearly and stop
    pruning around 10^7 docs.

    Candidates route through the capped grouped expansion (one shuffle;
    buckets larger than ``bucket_cap`` dropped). Exact-duplicate
    clusters overflow every band — collapse those with ``exact_dedup``
    first, as for MinHash — but so do large NEAR-duplicate clusters
    that exact_dedup cannot collapse; pass ``obs_out`` to observe the
    drop count (``obs_out["simhash_band_drops"].get`` after an action)
    rather than losing their pairs invisibly. The simhash rides the
    expansion as a payload so the hamming check runs inline on pair
    rows — no re-join of the hash table.
    """
    if n_chunks < max_hamming + 2:
        raise ValueError(
            f"n_chunks={n_chunks} too small for max_hamming={max_hamming}: "
            f"2-chunk-combo banding needs n_chunks >= max_hamming + 2"
        )
    widths = _chunk_widths(n_chunks)
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    chunk = [
        F.shiftright(F.col("simhash"), offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_chunks)
    ]
    combos = [(i, j) for i in range(n_chunks) for j in range(i + 1, n_chunks)]
    toks = hashes.select(
        F.col(id_col),
        F.col("simhash"),
        # int64 bucket key per combo; collisions only merge buckets
        # (spurious candidates the hamming filter rejects)
        F.explode(
            F.array(*[F.xxhash64(F.lit(ci), chunk[i], chunk[j])
                      for ci, (i, j) in enumerate(combos)])
        ).alias("bb"),
    )
    pairs, obs = grouped_pair_expansion(
        toks, id_col=id_col, tok_col="bb", df_cap=bucket_cap, payload_col="simhash"
    )
    if obs_out is not None and obs is not None:
        obs_out["simhash_band_drops"] = obs
    # hamming filter BEFORE the distinct: most candidates fail it, so the
    # dedup shuffle carries only true near-dups
    return (
        pairs.select(
            "id_a", "id_b",
            F.bit_count(F.col("payload_a").bitwiseXOR(F.col("payload_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------- connected keepers

def propagate_min_keeper(pairs: DataFrame, ids: DataFrame, id_col: str = "doc_id",
                         max_iter: int = 20) -> DataFrame:
    """Connected-component keeper assignment by iterative min-label
    propagation over the dup-pair graph. Returns (id, keep_id).

    Each round takes the min over neighbor labels (one hop), then
    POINTER-JUMPS: every node also adopts its current label's label —
    path lengths to the component min halve per round, so convergence
    is O(log diameter) rounds, not O(diameter); a 10^6-long edit chain
    converges in ~20 rounds where pure one-hop propagation needs 10^6.
    (Labels are always node ids within the component: the min over
    in-component ids only, so the shortcut join is total and the
    invariant is preserved.)

    Each round materializes the new labels via ``localCheckpoint`` so the
    plan stays bounded-depth regardless of round count (unmaterialized
    lineage would grow joins per round and every convergence probe would
    re-execute the whole chain). The convergence probe is an
    ``observe()`` counter (changed = new label != round-start label,
    the old label riding through the round's joins) read off the SAME
    action that materializes the checkpoint — round 7: the previous
    separate diff-join + ``isEmpty`` cost one extra join and one extra
    job per round, pure driver-synchronized overhead at any scale.

    Raises RuntimeError if ``max_iter`` rounds pass without convergence —
    a silent early exit would hand back intermediate labels that look
    valid but are not component minima.
    """
    edges = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    edges = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    edges = edges.localCheckpoint(eager=False)
    labels = ids.select(F.col(id_col).alias("u"), F.col(id_col).alias("lbl"))
    labels = labels.localCheckpoint(eager=False)
    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        hopped = labels.join(nbr_min, "u", "left").select(
            "u",
            F.col("lbl").alias("_old"),
            F.least(F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))).alias("lbl"),
        )
        # pointer jump: lbl <- min(lbl, lbl's lbl). Every lbl is a node
        # id present in `hopped`, so the inner self-join is total.
        parent = hopped.select(F.col("u").alias("lbl"), F.col("lbl").alias("plbl"))
        obs = Observation()
        new_labels = (
            hopped.join(parent, "lbl")
            .select("u", "_old", F.least(F.col("lbl"), F.col("plbl")).alias("lbl"))
            .observe(
                obs, F.count(F.when(F.col("lbl") != F.col("_old"), 1)).alias("changed")
            )
            .select("u", "lbl")
        )
        new_labels = new_labels.localCheckpoint()  # truncate lineage per round
        # the eager checkpoint IS the action the observation waits on;
        # empty-row guard mirrors DropObservation (an optimizer rule
        # that dropped the CollectMetrics node must read as "no rows
        # changed", not a deep Py4J error)
        jrow = obs._jo.getRow()
        converged = (int(obs.get["changed"] or 0) == 0) if jrow.length() else True
        labels = new_labels
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"propagate_min_keeper did not converge in {max_iter} rounds "
            f"(component diameter > ~2^{max_iter}); raise max_iter"
        )
    return labels.select(F.col("u").alias(id_col), F.col("lbl").alias("keep_id"))


def decontaminate(corpus: DataFrame, eval_df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", threshold: float = 0.5,
                  shingle_hash: str = "xxhash64") -> DataFrame:
    """Benchmark decontamination: flag corpus docs whose word-shingle
    sets overlap a held-out evaluation set — the standard pre-training
    hygiene pass that keeps eval questions out of the training corpus.

    Returns one row per corpus doc:
    ``(id, n_shingles, n_hits, overlap, contaminated)`` where
    ``overlap = n_hits / n_shingles`` (the fraction of the doc's
    distinct 3-gram shingles that appear anywhere in the eval set) and
    ``contaminated = overlap >= threshold``.

    Scale shape: the eval side is small by nature (benchmarks are 10^3-10^5
    docs, i.e. ~10^6-10^7 distinct shingles), so its distinct-shingle
    table is BROADCAST — the 100 TB corpus side never shuffles its
    shingle strings. The corpus explodes to shingle grain, probes the
    broadcast set with a LEFT join, and immediately re-aggregates to
    doc grain with a map-side-combined groupBy: the only exchange
    carries one small row per doc per partition. ``shingle_hash``:
    ``"xxhash64"`` (default) probes on int64 hashes (cheap comparisons,
    collision odds ~n^2/2^64 — immaterial for flagging); ``"raw"``
    probes on the shingle strings themselves, bit-identically
    recomputable by the SQL oracle (strings stay inside the task — the
    broadcast is still the small eval side — so the cost is only the
    wider hash-table probe).
    """
    # staged token arrays (see shingles_from_tokens: inline shingles()
    # re-splits the text per element)
    sh_corpus = shingles_from_tokens(F.col("_tk"))
    sh_eval = shingles_from_tokens(F.col("_tk"))
    if shingle_hash == "xxhash64":
        key = lambda c: F.xxhash64(c)  # noqa: E731
    elif shingle_hash == "raw":
        key = lambda c: c  # noqa: E731
    else:
        raise ValueError(f"unknown shingle_hash: {shingle_hash!r}")

    ev = (
        eval_df.select(tokenize(F.col(text_col)).alias("_tk"))
        .select(F.explode(sh_eval).alias("_sh"))
        .select(key(F.col("_sh")).alias("_sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # ONE shingle pass: the shingle array is distinct per doc, so
    # n_shingles is just the exploded row count per doc — counting it
    # in the same aggregation as the hits avoids a second evaluation of
    # the (interpreted-HOF, hence expensive) shingle transform, which a
    # separate size() column costs even when the array is aliased
    # first. The key mapping runs inside the array (before explode) so
    # the generate emits int64s on the fast path, never strings.
    c = _spread(corpus, id_col).select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_tk")
    ).select(
        F.col(id_col),
        F.explode(F.transform(sh_corpus, lambda sh: key(sh))).alias("_sh"),
    )
    hits = (
        c.join(F.broadcast(ev), "_sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        )
    )
    overlap = F.col("n_hits") / F.col("n_shingles")
    return hits.select(
        id_col,
        "n_shingles",
        "n_hits",
        overlap.alias("overlap"),
        (overlap >= threshold).alias("contaminated"),
    )


def paragraph_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    sep: str = "\n\n", max_df: int = 1,
                    join_sep: str | None = None) -> DataFrame:
    """Sub-document (paragraph-level) dedup: strip paragraphs that are
    repeated across documents — the boilerplate-removal pass (headers,
    footers, cookie banners, templated navigation) that whole-doc dedup
    cannot touch because every containing page differs elsewhere.

    Splits each doc on ``sep`` (a Java regex; default blank line),
    fingerprints each paragraph on normalized content (the shared
    ``_content_fingerprint`` normalization), counts the number of
    DISTINCT documents containing each fingerprint, and rebuilds every
    doc keeping only paragraphs whose document frequency is <=
    ``max_df``, in original order, joined with ``join_sep`` (defaults
    to ``sep``). Returns ``(id, clean_text, n_kept, n_dropped)`` for
    EVERY input doc — a doc whose paragraphs are all boilerplate comes
    back with ``clean_text = ''``, it does not vanish.

    Scale shape: three exchanges, all at bounded width — (1) groupBy
    fingerprint for the doc-frequency count (map-side combined, rows =
    distinct paragraphs); (2) a sort-merge join of the paragraph grain
    against that one-row-per-fingerprint table (NOT broadcast: with a
    small ``max_df`` over a duplicated web corpus the over-frequency
    set is unbounded, and a hot boilerplate fingerprint is plain join
    skew that AQE splits — no row blow-up, the frequency side is
    unique); (3) groupBy doc for reassembly, where the collect_list is
    bounded by a single document's own paragraph count, never by
    corpus-wide frequency."""
    if join_sep is None:
        join_sep = sep
    p = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn(
        "_pfp",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("para"))), r"\s+", " ")),
    )
    dfreq = p.groupBy("_pfp").agg(
        F.count_distinct(F.col(id_col)).alias("_pdf")
    )
    j = p.join(dfreq, "_pfp")
    keep = F.col("_pdf") <= max_df
    kept_paras = F.array_sort(
        F.collect_list(F.when(keep, F.struct("pos", "para")))
    )
    return j.groupBy(id_col).agg(
        F.array_join(
            F.transform(kept_paras, lambda s: s["para"]), join_sep
        ).alias("clean_text"),
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.count(F.when(~keep, 1)).alias("n_dropped"),
    )


def paragraph_scrub(df: DataFrame, eval_df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", sep: str = "\n\n",
                    join_sep: str | None = None) -> DataFrame:
    """Span-level decontamination: remove every paragraph whose
    normalized content appears ANYWHERE in the eval set, and reassemble
    the doc — the surgical variant of ``decontaminate`` (which flags
    whole docs) for corpora too valuable to drop wholesale when only a
    quoted benchmark item contaminates them.

    Returns ``(id, clean_text, n_kept, n_scrubbed)`` for EVERY input
    doc. Scale shape: the eval paragraph-fingerprint set is small by
    nature and BROADCAST (like ``decontaminate``'s shingle set); the
    corpus side explodes to paragraph grain, probes the broadcast set
    with a LEFT join, and re-aggregates to doc grain — the only
    corpus-side exchange is the doc-grain reassembly groupBy, whose
    collect_list is bounded by a single document's paragraph count."""
    if join_sep is None:
        join_sep = sep

    def norm_fp(c):
        return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))

    ev = (
        eval_df.select(F.explode(F.split(F.col(text_col), sep)).alias("p"))
        .select(norm_fp(F.col("p")).alias("_pfp"))
        .distinct()
        .withColumn("_bad", F.lit(1))
    )
    p = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).withColumn("_pfp", norm_fp(F.col("para")))
    j = p.join(F.broadcast(ev), "_pfp", "left")
    keep = F.col("_bad").isNull()
    kept_paras = F.array_sort(
        F.collect_list(F.when(keep, F.struct("pos", "para")))
    )
    return j.groupBy(id_col).agg(
        F.array_join(
            F.transform(kept_paras, lambda s: s["para"]), join_sep
        ).alias("clean_text"),
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.count(F.when(~keep, 1)).alias("n_scrubbed"),
    )


def substring_dedup(df: DataFrame, k: int = 8, text_col: str = "text",
                    id_col: str = "doc_id", min_count: int = 2,
                    policy: str = "all") -> DataFrame:
    """Exact substring deduplication (Lee et al. 2021, arXiv:2107.06499
    ExactSubstr): excise every token span of length >= ``k`` whose
    exact content occurs at least ``min_count`` times in the corpus —
    the modality doc-level MinHash and paragraph-boundary dedup both
    miss when a long verbatim quote sits inside otherwise-distinct
    documents or straddles paragraph breaks.

    ``policy``: with ``"all"`` (default) EVERY occurrence of a
    duplicated window is removed — deterministic, no keeper election.
    ``"keep_first"`` is the paper's all-but-one form at window grain:
    the occurrence with the lexicographically smallest ``(doc_id,
    pos)`` per duplicated fingerprint does not count as duplicate
    evidence, so one copy of the quote survives. Keeper election is ONE
    extra ``min(struct(id, pos))`` in the SAME frequency aggregation —
    map-side combinable, never a per-fingerprint window function (a hot
    boilerplate fingerprint would pin all its occurrences in one
    unsplittable task). Window-grain caveat, stated precisely: the kept
    window's TOKENS can still be excised when a neighboring duplicated
    window overlaps them (islands merge spans per doc); what the policy
    guarantees is that a duplicated run whose every window is kept-first
    in the same doc survives verbatim — true for the first occurrence
    of any cross-doc duplicated run when within-doc repeats are absent.

    Mechanics: every doc emits its sliding k-token window fingerprints
    with their start positions; a window is DUPLICATED when its
    fingerprint occurs >= ``min_count`` times corpus-wide (within-doc
    repeats count — a verbatim self-quote is excised too). Per doc, duplicated
    windows are merged into maximal spans (gaps-and-islands over start
    positions: a window starting at or before the running max end of
    its predecessors extends the current island), and the doc is
    rebuilt from the tokens OUTSIDE the merged spans. Returns
    ``(id, clean_text, n_tokens, n_dup_tokens, n_spans)`` for EVERY
    input doc — never drops rows, text is whitespace-normalized
    lowercase (the shared ``tokenize``).

    Window fingerprints are two-level ``xxhash64``: each token hashes
    once to int64, then the window hashes the k longs (the MinHash
    string-free trick: tokens are space-free, so the token tuple and
    the space-joined window string induce the same equivalence
    classes, minus a negligible int64 collision probability the
    DuckDB oracle — which counts the raw window strings — would
    surface). The two-level form exists because every token sits in k
    windows: hashing strings per window re-reads each token's bytes k
    times and was the measured bandwidth-bound bottleneck.

    Scale shape (the ``paragraph_dedup`` doctrine): four bounded
    exchanges — (1) groupBy window fingerprint for the corpus-wide
    occurrence count (map-side combined, int64 keys, rows = distinct
    windows); (2) a sort-merge join of the window grain against that
    frequency table, NOT a window-function count (which would pin all
    occurrences of a hot boilerplate window in one unsplittable task)
    and NOT broadcast (the duplicated-window set is corpus-sized) —
    a hot fingerprint is plain SMJ skew that AQE splits; (3) one
    doc-grain exchange that the islands window, the span groupBy, and
    the span-array groupBy ALL share (every grouping key contains the
    partition key); (4) the doc-grain sort-merge join back to the
    corpus. Span merge and gap reassembly are per-row expressions —
    the collect_list is bounded by a single doc's own span count.

    The plan scans the corpus three times (freq build, join probe,
    reassembly) and runs the window-hash map stage twice — deliberate:
    the window grain is ~4x the text bytes, so persisting it trades a
    recomputed MAP-ONLY stage (scan + hash, no shuffle) for a
    corpus-sized cache, and folding positions into the frequency
    aggregation (collect_list per fingerprint) is unbounded on a hot
    boilerplate window. Only the narrow (id, pos, int64) grain ever
    crosses a shuffle; the text bytes cross exactly one (reassembly)."""
    d = _spread(df, id_col).select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_tk")
    )
    tk = F.col("_tk")
    # pre-hash every token ONCE to int64, then window-fingerprint over
    # the k LONGS: the naive k-arg string hash re-reads each token's
    # bytes k times (every token sits in k windows) and measured as the
    # op's dominant, bandwidth-bound stage — pre-hashing cut the map
    # stage 2.25x at 16 cores AND lifted its 4-vs-16 scaling 0.60->0.71
    # (8 longs = 64 fixed bytes/window vs k variable-length string
    # re-reads). Same equivalence classes as hashing the tokens
    # directly, minus the identical negligible int64 collision term.
    hd = d.select(
        F.col(id_col), F.transform(tk, lambda x: F.xxhash64(x)).alias("_th")
    )
    th = F.col("_th")
    # sliding k-token window hashes; docs shorter than k emit none
    win_hashes = F.when(
        F.size(th) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(th) - (k - 1)),
            lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    wins = hd.select(
        F.col(id_col), F.posexplode(win_hashes).alias("pos", "_wfp")
    )
    if policy not in ("all", "keep_first"):
        raise ValueError(f"unknown substring_dedup policy: {policy!r}")
    aggs = [F.count(F.lit(1)).alias("_wc")]
    if policy == "keep_first":
        aggs.append(
            F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")))
            .alias("_first")
        )
    freq = (
        wins.groupBy("_wfp")
        .agg(*aggs)
        .where(F.col("_wc") >= min_count)
    )
    dup = wins.join(freq, "_wfp")
    if policy == "keep_first":
        dup = dup.where(
            ~((F.col(id_col) == F.col("_first.i")) & (F.col("pos") == F.col("_first.p")))
        )
    dup = dup.select(id_col, "pos")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dup.withColumn(
        "_brk",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn(
        "_isl",
        F.sum("_brk").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy(id_col, "_isl").agg(
        F.min("pos").cast("int").alias("a"),
        (F.max("pos") + k).cast("int").alias("b"),
    )
    span_arr = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("a", "b"))).alias("_spans")
    )
    j = d.join(span_arr, id_col, "left")
    sp = F.coalesce(F.col("_spans"), F.array().cast("array<struct<a:int,b:int>>"))
    n = F.size(tk)
    nspans = F.size(sp)

    def gap(i):
        # gap i sits between span i and span i+1 (0 = before the first
        # span, nspans = after the last); when() is branch-lazy, so the
        # out-of-range element_at in the untaken branch never evaluates
        start0 = (
            F.when(i == F.lit(0), F.lit(0))
            .otherwise(F.element_at(sp, i)["b"])
        )
        end0 = F.when(i == nspans, n).otherwise(F.element_at(sp, i + 1)["a"])
        return F.slice(tk, start0 + 1, end0 - start0)

    kept = F.flatten(F.transform(F.sequence(F.lit(0), nspans), gap))
    return j.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        n.cast("bigint").alias("n_tokens"),
        (n - F.size(kept)).cast("bigint").alias("n_dup_tokens"),
        nspans.cast("bigint").alias("n_spans"),
    )
