"""Tests for training-data operators: dedup, similarity, text, multimodal."""

import pyspark.sql.functions as F
import pytest

from fluent_plugin_kubernetes_metadata_filter_spark.ops import dedup, similarity, text as textops
from fluent_plugin_kubernetes_metadata_filter_spark.ops import multimodal

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """Documents plus exact copies and near-copies with known ids."""
    base = docs.limit(20).select("doc_id", "text")
    exact = base.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail tweak")).alias("text"),
    )
    return base.union(exact).union(near)


def test_exact_dedup_finds_planted_copies(spark, docs_with_dups):
    r = dedup.exact_dedup(docs_with_dups)
    dups = {x.doc_id for x in r.where("is_dup").collect()}
    assert dups == {i + 10000 for i in range(20)}
    keep = dict((x.doc_id, x.keep_id) for x in r.collect())
    assert keep[10005] == 5 and keep[5] == 5
    assert not any(k >= 20000 for k in dups)  # near-copies are not exact dups


def test_incremental_dedup_batch_vs_history(spark):
    """Within-batch copies collapse to the min-id keeper; anything whose
    fingerprint the history already holds is dropped; fresh content
    survives with its fingerprint attached for the next batch."""
    batch = spark.createDataFrame(
        [
            (1, "brand new content one"),
            (2, "brand new content one"),      # within-batch dup of 1
            (3, "Already  Seen THING "),        # normalizes to seen text
            (4, "brand new content two"),
        ],
        "doc_id long, text string",
    )
    seen_src = spark.createDataFrame(
        [(100, "already seen thing")], "doc_id long, text string"
    )
    seen = seen_src.select(
        dedup._content_fingerprint("text").alias("fingerprint")
    )
    out = dedup.incremental_dedup(batch, seen)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 4}
    assert set(out.columns) == {"doc_id", "text", "fingerprint"}


def test_incremental_dedup_chains_across_batches(spark):
    """The op's output IS the next batch's history increment: feeding
    survivors' fingerprints forward makes day-2 drop day-1 content,
    and the chained result equals a from-scratch exact_dedup over the
    concatenated corpus (keeper = first arrival)."""
    day1 = spark.createDataFrame(
        [(1, "alpha content"), (2, "beta content")],
        "doc_id long, text string",
    )
    day2 = spark.createDataFrame(
        [(10, "alpha content"), (11, "gamma content"), (12, "gamma content")],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "fingerprint string")
    kept1 = dedup.incremental_dedup(day1, empty)
    seen = kept1.select("fingerprint")
    kept2 = dedup.incremental_dedup(day2, seen)
    assert {r.doc_id for r in kept1.collect()} == {1, 2}
    assert {r.doc_id for r in kept2.collect()} == {11}


def test_incremental_dedup_single_batch_exchange(spark, docs):
    """The keeper window and the anti-join must SHARE the fingerprint
    hash partitioning: with a broadcast seen side the whole plan
    carries exactly one Exchange (the batch's), and the anti-join is
    broadcast — the batch's text bytes cross the wire once."""
    seen = docs.where("doc_id % 7 = 0").select(
        dedup._content_fingerprint("text").alias("fingerprint")
    )
    out = dedup.incremental_dedup(docs, seen, broadcast_seen=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_seen_bloom_has_no_false_negatives_and_preserves_output(spark, docs):
    """Every fingerprint the bloom was built from must probe True (the
    exactness contract: bloom-cleared rows skip the anti-join), and the
    bloom-filtered incremental dedup returns EXACTLY the plain path's
    rows."""
    seen = docs.where("doc_id % 4 = 0").select(
        dedup._content_fingerprint("text").alias("fingerprint")
    )
    batch = docs.where("doc_id % 4 != 0")
    bloom = dedup.build_seen_bloom(seen, n_bits=1 << 14)
    assert seen.where(~bloom.might_contain(F.col("fingerprint"))).count() == 0
    plain = {r.doc_id for r in dedup.incremental_dedup(batch, seen).collect()}
    got = {r.doc_id
           for r in dedup.incremental_dedup(batch, seen, bloom=bloom).collect()}
    assert got == plain


def test_seen_bloom_false_positives_cannot_corrupt_output(spark, docs):
    """A deliberately saturated 128-bit bloom produces real false
    positives on unseen fingerprints (assert they exist, so the test
    means something), yet the final output is still exactly the plain
    anti-join's — false positives only cost join input."""
    seen = docs.where("doc_id % 4 = 0").select(
        dedup._content_fingerprint("text").alias("fingerprint")
    )
    batch = docs.where("doc_id % 4 != 0")
    tiny = dedup.build_seen_bloom(seen, n_bits=128, n_hashes=2)
    unseen_fp = (
        batch.withColumn("fingerprint", dedup._content_fingerprint("text"))
        .join(seen, "fingerprint", "left_anti")
    )
    n_fp = unseen_fp.where(tiny.might_contain(F.col("fingerprint"))).count()
    assert n_fp > 0, "saturated bloom produced no false positives — test is vacuous"
    plain = {r.doc_id for r in dedup.incremental_dedup(batch, seen).collect()}
    got = {r.doc_id
           for r in dedup.incremental_dedup(batch, seen, bloom=tiny).collect()}
    assert got == plain


def test_incremental_dedup_bucketed_history_never_shuffles_seen(spark, docs, tmp_path):
    """With a bucketed seen store and seen_buckets matching its layout,
    the plan carries exactly ONE exchange (the batch's own
    repartition): the keeper window and the anti-join both reuse it,
    and the history is read pre-partitioned from disk."""
    from fluent_plugin_kubernetes_metadata_filter_spark import bucketing

    seen_df = docs.where("doc_id % 4 = 0").select(
        dedup._content_fingerprint("text").alias("fingerprint")
    )
    bucketing.write_bucketed(seen_df, "seen_store_t", ["fingerprint"], n_buckets=8)
    try:
        seen = spark.table("seen_store_t")
        batch = docs.where("doc_id % 4 != 0")
        out = dedup.incremental_dedup(batch, seen, seen_buckets=8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        plain = {r.doc_id for r in dedup.incremental_dedup(batch, seen_df).collect()}
        assert {r.doc_id for r in out.collect()} == plain
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_store_t")


def test_minhash_finds_near_dups(spark, docs_with_dups):
    pairs = dedup.minhash_dedup(docs_with_dups, threshold=0.5)
    got = {(p.id_a, p.id_b) for p in pairs.collect()}
    # every exact copy pair must be found (jaccard 1.0 -> all bands agree)
    for i in range(20):
        assert (i, i + 10000) in got
    # near copies (one appended shingle) should mostly be found
    near_found = sum((i, i + 20000) in got for i in range(20))
    assert near_found >= 15
    # jaccard values are exact (verification step)
    exact_pair = pairs.where((F.col("id_a") == 0) & (F.col("id_b") == 10000)).collect()[0]
    assert exact_pair.jaccard == 1.0


def test_minhash_signature_shape(spark, docs):
    sigs = dedup.minhash_signatures(docs.limit(5))
    rows = sigs.collect()
    assert all(len(r.sig) == dedup.N_PERM for r in rows)
    # deterministic across runs
    again = {r.doc_id: r.sig for r in dedup.minhash_signatures(docs.limit(5)).collect()}
    assert all(again[r.doc_id] == r.sig for r in rows)


def test_simhash_near_dups(spark, docs_with_dups):
    hashes = dedup.simhash64(docs_with_dups)
    pairs = dedup.simhash_pairs(hashes, max_hamming=3)
    got = {(p.id_a, p.id_b) for p in pairs.collect()}
    for i in range(20):
        assert (i, i + 10000) in got  # identical text -> hamming 0
    h = {r.doc_id: r.simhash for r in hashes.collect()}
    assert h[0] == h[10000]


def test_grouped_pair_expansion_df_cap(spark):
    """A planted hot (stop-)shingle must not inflate pairs: with df_cap
    below its document frequency it is dropped, the drop is observable,
    and the discriminative token still yields its pair."""
    rows = [(d, "hot") for d in range(10)] + [(1, "rare"), (2, "rare")]
    toks = spark.createDataFrame(rows, "doc_id long, tok string")
    pairs, obs = dedup.grouped_pair_expansion(toks, df_cap=5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}  # 10-doc hot token would have added 45 pairs
    assert obs.get["dropped_tokens"] == 1 and obs.get["max_df"] == 10
    # uncapped: the full k^2/2 expansion
    all_pairs, _ = dedup.grouped_pair_expansion(toks, df_cap=None)
    assert all_pairs.count() == 45 + 1


def test_grouped_pair_expansion_drops_before_collect(spark):
    """Over-cap tokens must be removed BEFORE the collect_list, not
    after: the plan runs a per-token window count sharing the collect's
    exchange, with the cap filter between Window and the aggregate — so
    a mega-bucket never reaches a collect_list buffer (arrays cannot
    spill; the window can), the upstream of toks executes exactly once,
    and the whole expansion still costs ONE exchange. Results are
    unchanged vs the post-filter formulation and the payload still
    rides through for the surviving pairs."""
    import re

    rows = [(d, "hot", d * 11) for d in range(10)] + [(1, "rare", 11), (2, "rare", 22)]
    toks = spark.createDataFrame(rows, "doc_id long, tok string, pl long")
    pairs, obs = dedup.grouped_pair_expansion(toks, df_cap=5, payload_col="pl")
    plan = pairs._sc._jvm.PythonSQLUtils.explainString(
        pairs._jdf.queryExecution(), "formatted"
    )
    assert "Window" in plan and "Join" not in plan
    # single exchange: window + collect aggregate share the token hash
    # partitioning (numbered plan nodes, not AQE stage echoes)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    got = {(r.id_a, r.id_b, r.payload_a, r.payload_b) for r in pairs.collect()}
    assert got == {(1, 2, 11, 22)}
    assert obs.get["dropped_tokens"] == 1 and obs.get["max_df"] == 10


def test_entry_points_expose_drop_observation(spark):
    """The public entry points must not swallow the cap's drop count: a
    near-dup mega-cluster (NOT byte-identical, so exact_dedup keeps all
    members) that overflows every band is reported via obs_out."""
    # 12 near-identical docs (one trailing counter token differs) + a pair
    cluster = [(d, f"the same templated page body repeated verbatim copy {d}")
               for d in range(12)]
    pair = [(100, "a rare and unusual pairing of words here"),
            (101, "a rare and unusual pairing of words here")]
    docs = spark.createDataFrame(cluster + pair, "doc_id long, text string")

    obs_out = {}
    out = dedup.dedup_pipeline(docs, threshold=0.3, bucket_cap=5, obs_out=obs_out)
    out.collect()
    drops = obs_out["minhash_lsh_drops"].get
    assert drops["dropped_tokens"] > 0 and drops["max_df"] > 5

    # simhash: 12 distinct docs whose hashes collide exactly (an
    # extreme near-dup cluster) -> every combo band overflows cap 5
    obs_out = {}
    hashes = spark.createDataFrame(
        [(d, 0x5A5A_1234_ABCD_0F0F) for d in range(12)] + [(100, 0x1111), (101, 0x1111)],
        "doc_id long, simhash long",
    )
    pairs = dedup.simhash_pairs(hashes, max_hamming=3, bucket_cap=5, obs_out=obs_out)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(100, 101)}
    drops = obs_out["simhash_band_drops"].get
    assert drops["dropped_tokens"] > 0 and drops["max_df"] == 12


def test_drop_observation_reports_zero_when_nothing_dropped(spark):
    """With no over-cap token the metrics must still fire and report
    zero drops plus the measured max_df — the window formulation keeps
    CollectMetrics on the main path, where no optimizer rule can
    eliminate it (the round-4 broadcast-anti formulation lost its
    metrics node to AQE empty-relation propagation exactly in this
    case, and obs.get raised)."""
    toks = spark.createDataFrame(
        [(1, "t1"), (2, "t1"), (3, "t2"), (4, "t2")], "doc_id long, tok string"
    )
    pairs, obs = dedup.grouped_pair_expansion(toks, df_cap=5)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2), (3, 4)}
    assert obs.get == {"dropped_tokens": 0, "max_df": 2}


def test_minhash_lsh_bucket_cap_bounds_dup_cluster(spark):
    """An exact-duplicate mega-cluster shares ALL bands; with bucket_cap
    below the cluster size its buckets are dropped (observable) instead
    of expanding k^2 pairs in one task, while small buckets still pair.
    (Production contract: exact_dedup collapses such clusters first.)"""
    cluster = [(d, "the same exact document body repeated verbatim") for d in range(12)]
    pair = [(100, "a rare and unusual pairing of words here"),
            (101, "a rare and unusual pairing of words here")]
    docs = spark.createDataFrame(cluster + pair, "doc_id long, text string")
    sigs = dedup.minhash_signatures(docs)
    pairs, obs = dedup.minhash_lsh_candidates(sigs, bucket_cap=5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(100, 101)}
    assert obs.get["dropped_tokens"] >= dedup.N_BANDS  # every band bucket of the cluster
    assert obs.get["max_df"] == 12
    # uncapped: the cluster contributes its full 66 pairs
    all_pairs, _ = dedup.minhash_lsh_candidates(sigs, bucket_cap=None)
    assert all_pairs.count() == 66 + 1


def test_simhash_combo_banding_pigeonhole(spark):
    """Adversarial bit placements for hamming<=3: flips spread across 3
    distinct chunks leave exactly 2 clean chunks, the minimum the 2-chunk
    combo banding needs. hamming>3 pairs are filtered out."""
    signed = lambda v: v - (1 << 64) if v >= (1 << 63) else v  # noqa: E731
    base = 0x5A5A_1234_ABCD_0F0F
    cases = {
        1: base,                                     # hamming 0
        2: base ^ 1,                                 # 1 flip
        3: base ^ (1 | (1 << 63)),                   # 2 flips, first+last chunk
        4: base ^ (1 | (1 << 13) | (1 << 26)),       # 3 flips in 3 distinct chunks
        5: base ^ (1 | (1 << 13) | (1 << 26) | (1 << 39)),  # hamming 4 -> excluded
    }
    hashes = spark.createDataFrame(
        [(0, base)] + [(k, signed(v)) for k, v in cases.items()],
        "doc_id long, simhash long",
    )
    got = {(r.id_a, r.id_b): r.hamming for r in
           dedup.simhash_pairs(hashes, max_hamming=3).collect()}
    assert got[(0, 1)] == 0 and got[(0, 2)] == 1 and got[(0, 3)] == 2 and got[(0, 4)] == 3
    assert (0, 5) not in got


def test_simhash_bucket_cap_bounds_dup_cluster(spark):
    """Identical simhashes (exact dups) fill every combo bucket; the cap
    drops them while a small near-dup pair elsewhere is still found."""
    cluster = [(d, 0x1111_2222_3333_4444) for d in range(12)]
    pair = [(100, -0x7EDC_BA09_8765_4322), (101, -0x7EDC_BA09_8765_4322 ^ 3)]
    hashes = spark.createDataFrame(cluster + pair, "doc_id long, simhash long")
    got = {(r.id_a, r.id_b) for r in
           dedup.simhash_pairs(hashes, max_hamming=3, bucket_cap=5).collect()}
    assert got == {(100, 101)}
    uncapped = dedup.simhash_pairs(hashes, max_hamming=3, bucket_cap=None)
    assert uncapped.count() == 66 + 1
    with pytest.raises(ValueError, match="n_chunks"):
        dedup.simhash_pairs(hashes, max_hamming=4, n_chunks=5)


def test_grouped_pair_expansion_payload(spark):
    """payload_col rides per-doc values through the expansion in id order."""
    toks = spark.createDataFrame(
        [(3, "t", 30), (1, "t", 10), (2, "t", 20)], "doc_id long, tok string, val long"
    )
    pairs, _ = dedup.grouped_pair_expansion(toks, df_cap=None, payload_col="val")
    got = {(r.id_a, r.id_b, r.payload_a, r.payload_b) for r in pairs.collect()}
    assert got == {(1, 2, 10, 20), (1, 3, 10, 30), (2, 3, 20, 30)}


def test_propagate_min_keeper(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 23, 99]], "doc_id long")
    keep = {r.doc_id: r.keep_id for r in dedup.propagate_min_keeper(pairs, ids).collect()}
    assert keep == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20, 99: 99}


def test_minhash_signatures_single_shuffle_plan(spark, docs):
    """Scale armor: the signature computation must stay ONE shuffle (the
    doc-key groupBy with map-side combine) plus the small-input spread;
    a second data exchange here would double the 100 TB cost. The base
    hash must be projected ONCE, not inlined into the 64 aggregates
    (probe-measured 45s vs 37s at 320k docs), and the fast path hashes
    word triples with no shingle-string build — so xxhash64 appears
    only in the explode expression (triple + short-doc fallback), never
    64x in the aggregate list."""
    sigs = dedup.minhash_signatures(docs)
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan  # spread + groupBy
    assert "partial_min" in plan  # map-side combine
    assert plan.count("xxhash64") <= 3, plan
    assert "concat_ws" not in plan, plan  # no shingle-string allocation


def test_grouped_pair_expansion_matches_self_join(spark):
    """Property: the one-shuffle grouped expansion equals the textbook
    self-join formulation on randomized (doc, token) tables."""
    import random

    rnd = random.Random(7)
    for trial in range(3):
        rows = [(rnd.randrange(40), f"t{rnd.randrange(25)}") for _ in range(300)]
        toks = spark.createDataFrame(set(rows), "doc_id long, tok string")
        got, _ = dedup.grouped_pair_expansion(toks, df_cap=None)
        a = toks.select(F.col("doc_id").alias("id_a"), "tok")
        b = toks.select(F.col("doc_id").alias("id_b"), "tok")
        want = (
            a.join(b, "tok")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_propagate_min_keeper_bounded_plan(spark):
    """A long path graph needs many propagation rounds; per-round
    localCheckpoint must keep the final plan one-join deep instead of
    accumulating a join per round."""
    n = 9
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = dedup.propagate_min_keeper(pairs, ids, max_iter=10)
    assert {r.keep_id for r in out.collect()} == {0}
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") == 0, plan  # lineage truncated to a checkpoint scan


def test_propagate_min_keeper_long_chain_pointer_jumping(spark):
    """A 100-hop edit chain (diameter 99 from the min) must converge
    within the default 20 rounds: pointer jumping halves path lengths
    per round (one-hop-only propagation would need 99 rounds and now
    raises instead of silently returning intermediate labels)."""
    n = 100
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    keep = {r.doc_id: r.keep_id for r in dedup.propagate_min_keeper(pairs, ids).collect()}
    assert keep == {i: 0 for i in range(n)}


def test_dedup_pipeline_keeper_stage_single_exchange(spark, docs):
    """Scale armor: exact-keeper selection is ONE shuffle (the
    fingerprint window) — a join back onto the exact table would
    shuffle the text-carrying corpus twice."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops.dedup import (
        _content_fingerprint,
    )
    from pyspark.sql import Window

    w = Window.partitionBy(_content_fingerprint("text"))
    keepers = (
        docs.withColumn("_k0", F.min(F.col("doc_id")).over(w))
        .where(F.col("doc_id") == F.col("_k0"))
        .drop("_k0")
    )
    plan = keepers._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_dedup_pipeline_mega_cluster_beyond_cap(spark, docs):
    """THE scenario the bucket-cap contract exists for: an exact-copy
    cluster LARGER than the LSH cap. The exact stage collapses it to
    one keeper, so the capped LSH never sees the cluster; the near-dup
    edge from the cluster's text to a tweaked variant still lands, and
    every copy plus the variant resolves to one component keeper."""
    base = docs.where("doc_id = 5").select("text")
    copies = base.crossJoin(
        spark.range(30000, 30600).select(F.col("id").alias("doc_id"))
    ).select("doc_id", "text")  # 600 identical copies, cap is 8 below
    variant = base.select(
        F.lit(40000).cast("long").alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tiny tail")).alias("text"),
    )
    solo = docs.where("doc_id = 7").select("doc_id", "text")
    df = copies.union(variant).union(solo)
    out = {r.doc_id: r.keep_id
           for r in dedup.dedup_pipeline(df, bucket_cap=8).collect()}
    assert out[30000] == 30000                       # cluster min keeps
    assert all(out[i] == 30000 for i in range(30001, 30600))
    assert out[40000] == 30000                       # near-dup joins the component
    assert out[7] == 7                               # unrelated doc untouched


def test_propagate_min_keeper_nonconvergence_raises(spark):
    """Hitting max_iter without convergence must raise — intermediate
    labels look valid but are not component minima."""
    import pytest as _pytest

    n = 60
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.propagate_min_keeper(pairs, ids, max_iter=2).collect()


# ------------------------------------------------------------ similarity

@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_brute_force_topk_self_is_nearest(spark, emb):
    q = emb.where("vec_id < 3")
    r = similarity.brute_force_topk(q, emb, k=1)
    for row in r.collect():
        assert row.cand_id == row.query_id  # cosine(v, v) = 1
        assert abs(row.sim - 1.0) < 1e-9


def test_lsh_topk_recall_against_exact(spark, emb):
    q = emb.where("vec_id < 20")
    c = emb.where("vec_id >= 20")
    exact = similarity.brute_force_topk(q, c, k=5)
    approx = similarity.lsh_topk(q, c, dim=64, k=5, n_planes=16, n_bands=8)
    ex = {(r.query_id, r.cand_id) for r in exact.collect()}
    ap = {(r.query_id, r.cand_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5, f"LSH recall too low: {recall}"
    # every approx sim must equal the exact sim for the same pair
    exact_sims = {(r.query_id, r.cand_id): r.sim for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.cand_id) in exact_sims:
            assert abs(r.sim - exact_sims[(r.query_id, r.cand_id)]) < 1e-9


def test_embedding_neardup_finds_planted(spark, emb):
    # plant: copy of vec 7 (cosine 1.0) and a scaled copy (cosine 1.0)
    import pyspark.sql.functions as F

    v7 = emb.where("vec_id = 7").select(
        F.lit(9001).cast("long").alias("vec_id"), "embedding", "label"
    )
    scaled = emb.where("vec_id = 7").select(
        F.lit(9002).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        "label",
    )
    df = emb.union(v7).union(scaled)
    pairs, _ = similarity.embedding_neardup(df, dim=64, threshold=0.999)
    got = {(p.id_a, p.id_b) for p in pairs.collect()}
    assert (7, 9001) in got and (7, 9002) in got and (9001, 9002) in got


def test_embedding_neardup_bucket_cap_bounds_dup_cluster(spark, emb):
    """A cluster of identical embeddings shares every LSH band bucket;
    with bucket_cap below the cluster size its buckets drop instead of
    expanding k^2 vector pairs, while a small planted pair elsewhere is
    still found."""
    import pyspark.sql.functions as F

    base = emb.where("vec_id = 3").select("embedding", "label")
    cluster = base.crossJoin(
        spark.range(9100, 9112).select(F.col("id").alias("vec_id"))
    ).select("vec_id", "embedding", "label")
    pair = emb.where("vec_id = 40").select(
        F.lit(9200).cast("long").alias("vec_id"), "embedding", "label"
    )
    df = cluster.union(pair).union(
        emb.where("vec_id = 40").select(
            F.lit(9201).cast("long").alias("vec_id"), "embedding", "label"
        )
    )
    capped, obs = similarity.embedding_neardup(df, dim=64, threshold=0.999,
                                               bucket_cap=5)
    got = {(p.id_a, p.id_b) for p in capped.collect()}
    assert got == {(9200, 9201)}
    # the loss is observable, never silent
    assert obs.get["dropped_tokens"] > 0 and obs.get["max_df"] >= 12
    uncapped, no_obs = similarity.embedding_neardup(df, dim=64, threshold=0.999)
    assert no_obs is None  # default: no cap (coarse recall-oriented bands)
    assert uncapped.count() == 66 + 1  # C(12,2) cluster pairs + the pair


# ------------------------------------------------------------ text ops

def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello world, it's 42 degrees!")], "id long, text string")
    r = textops.token_counts(df).collect()[0]
    assert r.n_tokens_ws == 5
    assert r.n_chars == 29
    assert r.n_tokens_bpe >= 7  # words + number + punctuation runs


def test_quality_score_ranges(spark, docs):
    r = textops.quality_score(docs.limit(50))
    rows = r.collect()
    assert all(0.0 <= x.quality_score <= 1.0 for x in rows)
    assert all(0.0 <= x.punct_ratio <= 1.0 for x in rows)


def test_langid_beats_chance(spark, docs):
    """Synthetic docs are word salads; just require: deterministic,
    valid labels, and 'the/a/of'-bearing docs classified en."""
    r = textops.langid(docs).select("doc_id", "lang", "lang_pred")
    rows = r.collect()
    assert all(x.lang_pred in (*textops.LANG_PROFILES, "unk") for x in rows)
    again = textops.langid(docs).select("doc_id", "lang_pred").collect()
    assert {(x.doc_id, x.lang_pred) for x in again} == {(x.doc_id, x.lang_pred) for x in rows}


def test_fingerprint_deterministic_and_normalizing(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a  b   c d e   f"), (3, "totally different words here now ok")],
        "id long, text string",
    )
    rows = {r.id: r for r in textops.fingerprint(df).collect()}
    assert rows[1].doc_fp == rows[2].doc_fp  # whitespace-normalized
    assert rows[1].doc_fp != rows[3].doc_fp
    assert rows[1].min_shingle_hash == rows[2].min_shingle_hash


def _budget_expected(df, budget):
    """Independent single-process model of token_budget's contract."""
    rows = textops.quality_score(textops.token_counts(df)).select(
        "doc_id",
        (F.floor(F.col("quality_score") * 10000) / 10000).alias("q4"),
        F.col("n_tokens_ws").alias("n_tokens"),
    ).collect()
    rows.sort(key=lambda r: (-r.q4, r.doc_id))
    out, acc = [], 0
    for r in rows:
        acc += r.n_tokens
        if acc > budget:
            break
        out.append((r.doc_id, r.q4, r.n_tokens, acc))
    return out


def test_token_budget_exact_prefix_sum_with_ties_multipartition(spark):
    """Many docs with IDENTICAL text (total q4 ties, broken only by id)
    spread across multiple range partitions: cum_tokens must equal the
    sequential prefix sum over the (q4 desc, id asc) total order, and
    the budget cut must be exact."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base) for i in range(40)]  # all tie on q4, 12 tokens each
    rows += [(100 + i, f"low q {'zz ' * (i + 1)}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    budget = 12 * 25 + 5  # cuts mid-tie-group, partial doc must be dropped
    got = sorted(
        (r.doc_id, r.q4, r.n_tokens, r.cum_tokens)
        for r in textops.token_budget(df, budget=budget).collect()
    )
    assert got == sorted(_budget_expected(df, budget))
    # the tie group is taken strictly in id order: first 25 ids exactly
    assert [g[0] for g in sorted(got, key=lambda g: g[3])] == list(range(25))


def test_token_budget_result_partitioning_independent(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = textops.token_budget(docs, budget=5000)
    b = textops.token_budget(docs.repartition(3), budget=5000)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_token_budget_single_source_scan(spark):
    """The offset map and the output must come from ONE materialized
    partitioning: after the internal localCheckpoint, the output plan
    reads the checkpointed RDD and contains NO scan of the parquet
    source (which would be a second, re-sampled execution)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = textops.token_budget(docs, budget=5000)._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    assert "parquet" not in plan.lower()


def test_token_budget_empty_input(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    out = textops.token_budget(df, budget=100)
    assert out.count() == 0
    assert out.columns == ["doc_id", "q4", "n_tokens", "cum_tokens"]


# ------------------------------------------------------------ multimodal

def test_multimodal_feature_extraction(spark):
    media = multimodal.synthetic_media(spark, n=30)
    feats = multimodal.extract_features(media, decoder=multimodal.fake_decoder)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r.feature)
    assert all(r.n_bytes > 0 for r in rows)
    # deterministic
    again = multimodal.extract_features(media, decoder=multimodal.fake_decoder).collect()
    assert {r.media_id: r.payload_hash for r in again} == {
        r.media_id: r.payload_hash for r in rows
    }


def test_bp_feature_decoder_exact_known_bytes(spark):
    """The basis-point decoder's chunking must replicate np.array_split
    and its arithmetic must be exact integer floor division — this is
    what lets an independent engine recompute the feature bit-for-bit."""
    import pandas as pd

    # 10 bytes -> np.array_split sizes [2,2,1,1,1,1,1,1]
    b = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])
    (feat,) = multimodal.bp_feature_decoder(pd.Series([b]))
    assert feat[0] == float((10 + 20) * 10000 // (2 * 255))
    assert feat[2] == float(50 * 10000 // 255)
    assert feat[7] == float(100 * 10000 // 255)
    (empty,) = multimodal.bp_feature_decoder(pd.Series([b""]))
    assert empty == [0.0] * 8
    # 3 bytes -> 5 trailing chunks empty -> 0.0
    (short,) = multimodal.bp_feature_decoder(pd.Series([bytes([255, 255, 255])]))
    assert short[:3] == [10000.0] * 3 and short[3:] == [0.0] * 5


def test_perceptual_hash_model_parity(spark):
    """The JVM-side aHash packing equals a sequential numpy model of
    the same rule (strictly-above floored integer mean, bit 63 via the
    min-long term) on every synthetic item."""
    import numpy as np

    media = multimodal.synthetic_media(spark, n=24)
    got = {r.media_id: r.phash
           for r in multimodal.perceptual_hash(
               media, decoder=multimodal.bp_grid_decoder).collect()}
    rows = {r.media_id: bytes(r.payload) for r in media.collect()}
    for mid, payload in rows.items():
        grid = [int(v) for v in multimodal.bp_grid_decoder(
            __import__("pandas").Series([payload]))[0]]
        m = sum(grid) // 64
        want = 0
        for i, v in enumerate(grid):
            if v > m:
                want += -(1 << 63) if i == 63 else (1 << i)
        assert got[mid] == want, mid
    assert len(got) == 24


def test_media_neardup_finds_planted_duplicate_payload(spark):
    """An exact payload copy under a new id is the unique hamming-0
    pair; unrelated random payloads produce no <=3 pairs."""
    media = multimodal.synthetic_media(spark, n=30)
    dup = media.where("media_id = 7").withColumn("media_id", F.lit(9007))
    got = multimodal.media_neardup(
        media.union(dup), decoder=multimodal.bp_grid_decoder).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(7, 9007, 0)]


def test_multimodal_stub_raises_without_decoder(spark):
    media = multimodal.synthetic_media(spark, n=3)
    with pytest.raises(Exception):
        multimodal.extract_features(media).collect()


def test_frame_sample_plan(spark):
    media = multimodal.synthetic_media(spark, n=30)
    frames = multimodal.frame_sample_plan(media, every_ms=1000)
    rows = frames.collect()
    assert len(rows) > 0
    assert all(r.frame_ts_ms % 1000 == 0 for r in rows)
    one = [r.frame_ts_ms for r in rows if r.media_id == 2]
    assert one == sorted(one) and one[0] == 0


def test_frame_sample_plan_short_and_null_durations(spark):
    """A video shorter than the sample interval yields ZERO frames, and
    a null duration yields zero frames — no phantom frame at t=0."""
    rows = [
        (1, "video", None, "video/mp4", None, None, 500),    # < every_ms
        (2, "video", None, "video/mp4", None, None, None),   # unknown
        (3, "video", None, "video/mp4", None, None, 2500),   # 2 frames
        (4, "image", None, "image/png", 64, 48, None),       # not video
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {(r.media_id, r.frame_ts_ms)
           for r in multimodal.frame_sample_plan(media, every_ms=1000).collect()}
    assert got == {(3, 0), (3, 1000)}


def test_ivf_topk_recall(spark, emb):
    q = emb.where("vec_id < 10")
    c = emb.where("vec_id >= 10")
    exact = similarity.brute_force_topk(q, c, k=5)
    approx = similarity.ivf_topk(q, c, dim=64, k=5, n_centroids=8, nprobe=3)
    ex = {(r.query_id, r.cand_id) for r in exact.collect()}
    ap = {(r.query_id, r.cand_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # deterministic across invocations
    again = {(r.query_id, r.cand_id) for r in
             similarity.ivf_topk(q, c, dim=64, k=5, n_centroids=8, nprobe=3).collect()}
    assert again == ap


def test_gemm_topk_equals_expression_topk(spark, emb):
    q = emb.where("vec_id < 10")
    c = emb.where("vec_id >= 10")
    a = similarity.brute_force_topk(q, c, k=5).select("query_id", "cand_id", "rank")
    b = similarity.brute_force_topk_gemm(q, c, k=5).select("query_id", "cand_id", "rank")
    ar = {(r.query_id, r.rank): r.cand_id for r in a.collect()}
    br = {(r.query_id, r.rank): r.cand_id for r in b.collect()}
    assert ar == br


def test_gemm_topk_tie_break_matches_baseline(spark):
    """Planted exact-sim ties at the k-boundary: many duplicate vectors,
    so selection inside one GEMM batch must break ties on asc cand_id
    exactly like the expression baseline's window."""
    dup = [0.5, 0.5] + [0.0] * 62
    other = [1.0, 0.0] + [0.0] * 62
    q = spark.createDataFrame([(0, [1.0, 1.0] + [0.0] * 62)], "vec_id long, embedding array<double>")
    # 20 identical candidates (all tie at sim=1.0) + 5 lower-sim ones,
    # deliberately interleaved ids so batch order != id order
    rows = [(100 - i, dup) for i in range(20)] + [(200 + i, other) for i in range(5)]
    c = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(3)
    a = similarity.brute_force_topk(q, c, k=7).select("query_id", "cand_id", "rank")
    b = similarity.brute_force_topk_gemm(q, c, k=7).select("query_id", "cand_id", "rank")
    ar = sorted((r.rank, r.cand_id) for r in a.collect())
    br = sorted((r.rank, r.cand_id) for r in b.collect())
    assert ar == br
    # ties resolved to the 7 smallest cand_ids among the duplicates
    assert [cid for _, cid in ar] == [81, 82, 83, 84, 85, 86, 87]


def test_gemm_topk_query_collect_guard(spark, emb):
    import pytest as _pytest

    q = emb.where("vec_id < 10")
    c = emb.where("vec_id >= 10")
    with _pytest.raises(ValueError, match="max_queries"):
        similarity.brute_force_topk_gemm(q, c, k=5, max_queries=3)


def test_minhash_variants_agree_on_planted_dups(spark, docs_with_dups):
    """Machinery parity: the md5 gate variant and the xxhash64
    production variant share every line downstream of the base hash, so
    both must find every exact-copy pair (identical docs agree on ALL
    bands whatever the hash) with identical verified Jaccard values."""
    for variant in ("xxhash64", "md5"):
        pairs = dedup.minhash_dedup(docs_with_dups, threshold=0.5,
                                    shingle_hash=variant)
        got = {(p.id_a, p.id_b): p.jaccard for p in pairs.collect()}
        for i in range(20):
            assert got.get((i, i + 10000)) == 1.0, (variant, i)


# ---------------------------------------------------- decontamination


@pytest.fixture(scope="module")
def contam(spark):
    """Corpus with known eval overlap: doc 1 IS the eval doc, doc 2
    half-overlaps it, doc 3 is disjoint."""
    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d x y z w"), (3, "p q r s t u v")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(100, "a b c d e f g h")], "doc_id long, text string")
    return corpus, ev


def test_decontaminate_overlap_fractions(spark, contam):
    corpus, ev = contam
    r = {x.doc_id: x for x in dedup.decontaminate(corpus, ev, threshold=0.5).collect()}
    assert r[1].n_shingles == 6 and r[1].n_hits == 6 and r[1].contaminated
    assert r[2].n_hits == 2 and not r[2].contaminated  # 'a b c','b c d' only
    assert r[3].n_hits == 0 and r[3].overlap == 0.0 and not r[3].contaminated
    assert r[1].overlap == 1.0


def test_decontaminate_variants_agree(spark, contam):
    """The raw-string gate variant and the xxhash64 production variant
    must produce identical rows (collisions aside, which cannot occur
    at test scale)."""
    corpus, ev = contam
    a = sorted(map(tuple, dedup.decontaminate(corpus, ev, shingle_hash="xxhash64").collect()))
    b = sorted(map(tuple, dedup.decontaminate(corpus, ev, shingle_hash="raw").collect()))
    assert a == b


def test_decontaminate_broadcasts_eval_side(spark, contam):
    """The 100 TB-side contract: the eval shingle set is broadcast and
    the corpus side reaches the hit aggregation without shuffling its
    exploded shingle rows — the only corpus exchange is the doc-grain
    partial-aggregated groupBy."""
    corpus, ev = contam
    plan = (
        dedup.decontaminate(corpus, ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_decontaminate_short_doc_fallback(spark):
    """<3-token docs fall back to the whole-text shingle in BOTH the
    corpus and eval paths, so a short eval item still decontaminates
    its exact copies."""
    corpus = spark.createDataFrame([(1, "hi there"), (2, "bye now")],
                                   "doc_id long, text string")
    ev = spark.createDataFrame([(9, "hi there")], "doc_id long, text string")
    r = {x.doc_id: x for x in dedup.decontaminate(corpus, ev).collect()}
    assert r[1].n_shingles == 1 and r[1].n_hits == 1 and r[1].contaminated
    assert r[2].n_hits == 0


# -------------------------------------------------- paragraph dedup


@pytest.fixture(scope="module")
def para_docs(spark):
    return spark.createDataFrame(
        [(1, "hello world\n\nshared footer text\n\nunique one"),
         (2, "different body\n\nshared footer text"),
         (3, "shared footer text"),
         (4, "solo paragraph here")],
        "doc_id long, text string",
    )


def test_paragraph_dedup_strips_cross_doc_paragraphs(spark, para_docs):
    out = {r.doc_id: r for r in dedup.paragraph_dedup(para_docs).collect()}
    assert out[1].clean_text == "hello world\n\nunique one"
    assert out[1].n_kept == 2 and out[1].n_dropped == 1
    assert out[2].clean_text == "different body"
    # doc 3 is ALL boilerplate: kept with empty text, not dropped
    assert out[3].clean_text == "" and out[3].n_kept == 0 and out[3].n_dropped == 1
    assert out[4].clean_text == "solo paragraph here" and out[4].n_dropped == 0


def test_paragraph_dedup_normalized_matching(spark):
    """Paragraph fingerprints use the shared content normalization:
    case/whitespace variants of the same paragraph count as one."""
    docs = spark.createDataFrame(
        [(1, "Shared  Footer\n\nbody a"), (2, "shared footer\n\nbody b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.paragraph_dedup(docs).collect()}
    assert out[1].clean_text == "body a" and out[2].clean_text == "body b"


def test_paragraph_dedup_max_df_threshold(spark, para_docs):
    """max_df=3 keeps the footer (df==3 <= 3): nothing is dropped."""
    out = {r.doc_id: r for r in dedup.paragraph_dedup(para_docs, max_df=3).collect()}
    assert all(r.n_dropped == 0 for r in out.values())
    assert out[1].clean_text == "hello world\n\nshared footer text\n\nunique one"


def test_paragraph_dedup_within_doc_repeat_not_boilerplate(spark):
    """A paragraph repeated WITHIN one doc has document frequency 1 —
    df counts distinct docs — so it survives intact (both copies)."""
    docs = spark.createDataFrame(
        [(1, "echo me\n\necho me\n\nother"), (2, "unrelated stuff")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.paragraph_dedup(docs).collect()}
    assert out[1].clean_text == "echo me\n\necho me\n\nother"
    assert out[1].n_kept == 3


# ----------------------------------------------- repetition signals


def test_repetition_signals_degenerate_text(spark):
    df = spark.createDataFrame(
        [(1, "buy now buy now buy now buy now"),
         (2, "alpha beta gamma delta"),
         (3, "hi")],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in textops.repetition_signals(df).collect()}
    # doc 1: 'buy' 4/8 unigrams; 'buy now' 4/7 bigrams; trigram 3/6
    assert r[1].top1_frac == 0.5
    assert abs(r[1].top2_frac - 4 / 7) < 1e-12
    assert r[1].top3_frac == 0.5
    # doc 2: all distinct -> 1/n_grams each
    assert r[2].top1_frac == 0.25 and r[2].top3_frac == 0.5
    # doc 3: one token; no 2- or 3-grams -> 0.0 by contract
    assert r[3].top1_frac == 1.0 and r[3].top2_frac == 0.0 and r[3].top3_frac == 0.0


def test_repetition_signals_ranks_repetitive_corpus_docs(spark, docs):
    """Sanity on the real corpus: every frac lies in [0,1] and is at
    least the uniform floor 1/#grams (no cross-n monotonicity exists:
    'a b a b' has top1=0.5 but top2=2/3 — different denominators)."""
    rows = textops.repetition_signals(docs.limit(100)).collect()
    assert all(0 < r.top1_frac <= 1.0 for r in rows)
    assert all(0 <= r.top2_frac <= 1.0 and 0 <= r.top3_frac <= 1.0 for r in rows)
    # tiny-vocabulary word salads repeat unigrams well above the
    # ~1/n_tokens uniform floor (docs are ~50 tokens -> floor ~0.02)
    assert sum(r.top1_frac >= 0.05 for r in rows) > 90


# ------------------------------------------------------ PII redaction


def test_redact_pii_all_classes(spark):
    df = spark.createDataFrame(
        [(1, "mail bob@corp.io ip 10.1.2.3 card 4111111111111111 tel +1 555-200-3000 end")],
        "doc_id long, text string",
    )
    r = textops.redact_pii(df).collect()[0]
    assert (r.n_email, r.n_ipv4, r.n_card, r.n_phone) == (1, 1, 1, 1)
    assert r.redacted_text == "mail [EMAIL] ip [IPV4] card [CARD] tel [PHONE] end"
    assert r.text == df.collect()[0].text  # input column untouched


def test_redact_pii_ordering_prevents_double_count(spark):
    """A card number's digits must be consumed by the card pass, not
    recounted as a phone; an email's digits never reach later passes."""
    df = spark.createDataFrame(
        [(1, "call 4111111111111111 now"),
         (2, "user123456789@example.com wrote"),
         (3, "dial 555-123-4567 today")],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in textops.redact_pii(df).collect()}
    assert r[1].n_card == 1 and r[1].n_phone == 0
    assert r[2].n_email == 1 and r[2].n_phone == 0 and r[2].n_card == 0
    assert r[3].n_phone == 1 and r[3].redacted_text == "dial [PHONE] today"


def test_redact_pii_clean_text_unchanged(spark, docs):
    out = textops.redact_pii(docs.limit(30))
    rows = out.collect()
    assert all(r.redacted_text == r.text for r in rows)  # corpus has no PII
    assert all(r.n_email == 0 and r.n_phone == 0 for r in rows)


# --------------------------------------------- deterministic sampling


def test_sample_k_exact_deterministic_composable(spark, docs):
    """Exactly k rows, identical across reruns and partitionings, and
    the k=5 sample is a PREFIX-subset of the k=15 sample (both are
    prefixes of the same hash order) — the nested-eval-subset
    property."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    s15 = {r.doc_id for r in sampling.sample_k(docs, 15).collect()}
    s15_again = {
        r.doc_id for r in sampling.sample_k(docs.repartition(7), 15).collect()
    }
    s5 = {r.doc_id for r in sampling.sample_k(docs, 5).collect()}
    assert len(s15) == 15 and s15 == s15_again
    assert s5 < s15


def test_sample_k_is_heap_topk_no_shuffle(spark, docs):
    """The plan must be TakeOrderedAndProject (per-partition k-heaps,
    O(k) driver merge) — a global Sort or an Exchange means the
    operator would sort 100 TB to pick 100 rows."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    plan = (
        sampling.sample_k(docs, 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_hash_split_total_deterministic_and_weighted(spark, docs):
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in sampling.hash_split(docs, w).select("doc_id", "split").collect()}
    # total assignment: every doc gets exactly one split
    assert len(a) == docs.count() and set(a.values()) <= set(w)
    # deterministic under repartitioning (the df.sample failure mode)
    b = {r.doc_id: r.split
         for r in sampling.hash_split(docs.repartition(7), w).select("doc_id", "split").collect()}
    assert a == b
    # weights hold approximately (500 docs, binomial tolerance)
    n = len(a)
    assert abs(sum(v == "train" for v in a.values()) / n - 0.8) < 0.08
    assert abs(sum(v == "val" for v in a.values()) / n - 0.1) < 0.06
    # a different seed reshuffles assignments
    c = {r.doc_id: r.split
         for r in sampling.hash_split(docs, w, seed=99).select("doc_id", "split").collect()}
    assert c != a


def test_stratified_sample_fractions_and_nesting(spark, docs):
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    half = sampling.stratified_sample(docs, {"en": 0.5}, "lang", default=1.0)
    quarter = sampling.stratified_sample(docs, {"en": 0.25}, "lang", default=1.0)
    half_ids = {r.doc_id for r in half.select("doc_id").collect()}
    quarter_ids = {r.doc_id for r in quarter.select("doc_id").collect()}
    # nested: the 25% sample is a subset of the 50% sample (same seed)
    assert quarter_ids <= half_ids
    n_en = docs.where("lang = 'en'").count()
    n_other = docs.where("lang <> 'en' OR lang IS NULL").count()
    kept_en = half.where("lang = 'en'").count()
    # non-en strata keep default=1.0 -> all retained
    assert half.count() - kept_en == n_other
    assert abs(kept_en / n_en - 0.5) < 0.12


def test_unimax_rates_hand_case():
    """Closed-form waterfill vs a hand computation: with masses
    100/300/1000, epochs=1, budget=600 — the smallest language
    saturates (cap 100 <= 600/3 fair share at its turn), the remaining
    500 splits evenly: allocations 100/250/250, rates 1.0/0.8333/0.25.
    Also: budget >= total mass -> every rate 1.0; tiny budget -> no
    language saturates, equal allocations."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops.sampling import unimax_rates

    r = unimax_rates({"a": 100.0, "b": 300.0, "c": 1000.0}, 600.0, 1.0)
    assert r == {"a": 1.0, "b": 0.8333, "c": 0.25}
    r = unimax_rates({"a": 100.0, "b": 300.0}, 1e9, 1.0)
    assert r == {"a": 1.0, "b": 1.0}
    r = unimax_rates({"a": 300.0, "b": 300.0, "c": 900.0}, 30.0, 1.0)
    assert r == {"a": 0.0333, "b": 0.0333, "c": 0.0111}  # 10 tokens each
    # epoch cap binds before mass: caps halve, same fair split of rest
    r = unimax_rates({"a": 100.0, "b": 300.0, "c": 1000.0}, 600.0, 0.5)
    # caps 50/150/500; i=1: 50*3=150<=600 sat; i=2: 150*2=300<=550 sat;
    # i=3: 500*1=500 > 400 unsat -> c gets 400 -> rate 0.4
    assert r == {"a": 0.5, "b": 0.5, "c": 0.4}


def test_unimax_mix_selection(spark, docs):
    """The saturated (rate-1.0) language keeps every row; keeps are a
    property of the data (stable under repartitioning); a huge budget
    keeps the whole corpus; zero/negative budgets raise."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    d = docs.select("doc_id", "lang", toks.alias("w"))
    masses = {r.lang: float(r.m)
              for r in d.groupBy("lang").agg(F.sum("w").alias("m")).collect()}
    budget = sum(masses.values()) / 2
    rates = sampling.unimax_rates(masses, budget, 1.0)
    out = sampling.unimax_mix(d, budget, lang_col="lang", weight_col="w")
    kept = {r.lang: r.n for r in
            out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    rows = {r.lang: r.n for r in
            d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, rate in rates.items():
        if rate == 1.0:
            assert kept.get(lang) == rows[lang]  # saturated: kept whole
        else:
            assert kept.get(lang, 0) < rows[lang]
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    again = {r.doc_id for r in
             sampling.unimax_mix(d.repartition(7), budget, lang_col="lang",
                                 weight_col="w").select("doc_id").collect()}
    assert ids == again
    assert sampling.unimax_mix(d, 1e12, lang_col="lang",
                               weight_col="w").count() == d.count()
    with pytest.raises(ValueError):
        sampling.unimax_mix(d, 0.0, lang_col="lang", weight_col="w")


def test_domain_mix_hits_target_mixture(spark, docs):
    """Token-weighted mixing: the binding domain (scarcest relative to
    its share) is kept whole, unlisted domains are dropped, the kept
    token mixture approximates the targets, a budget scales everything
    down, and keeps are stable under repartitioning."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    targets = {"en": 0.6, "de": 0.25, "fr": 0.15}
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    d = docs.select("doc_id", "lang", toks.alias("w"))
    masses = {r.lang: r.m for r in d.groupBy("lang").agg(F.sum("w").alias("m")).collect()}
    shares = sampling.normalized_targets(targets)
    binding = min(shares, key=lambda k: masses[k] / shares[k])

    out = sampling.domain_mix(d, targets, "lang", weight_col="w")
    kept = {r.lang: r.m for r in out.groupBy("lang").agg(F.sum("w").alias("m")).collect()}
    assert set(kept) == set(targets)  # zh/es dropped entirely
    assert kept[binding] == masses[binding]  # binding domain kept whole
    total = sum(kept.values())
    for dd, s in shares.items():  # achieved token mixture ~ targets
        assert abs(kept[dd] / total - s) < 0.08, (dd, kept[dd] / total, s)

    ids = {r.doc_id for r in out.select("doc_id").collect()}
    again = {r.doc_id for r in
             sampling.domain_mix(d.repartition(7), targets, "lang",
                                 weight_col="w").select("doc_id").collect()}
    assert ids == again  # property of the data, not the plan

    t_free = min(masses[k] / shares[k] for k in shares)
    capped = sampling.domain_mix(d, targets, "lang", weight_col="w",
                                 budget=t_free / 2)
    cap_total = capped.agg(F.sum("w")).collect()[0][0]
    assert cap_total < 0.75 * total  # budget bites

    with pytest.raises(ValueError):
        sampling.domain_mix(d, {"en": 0.5, "xx": 0.5}, "lang", weight_col="w")


def test_sampling_variants_are_pure_column_functions(spark, docs):
    """Both hash variants assign identically across independent plans
    (pure function of (id, seed)) — and never depend on row order."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    for fn in ("xxhash64", "md5"):
        a = {r.doc_id: r.split for r in sampling.hash_split(
            docs, {"a": 0.5, "b": 0.5}, hash_fn=fn).select("doc_id", "split").collect()}
        b = {r.doc_id: r.split for r in sampling.hash_split(
            docs.orderBy(F.desc("doc_id")), {"a": 0.5, "b": 0.5},
            hash_fn=fn).select("doc_id", "split").collect()}
        assert a == b


def test_pack_sequences_layout(spark):
    """3 docs x 5 tokens, seq_len 7: starts 0/5/10 -> bins 0/0/1, and
    offsets are contiguous (each start = previous start + n_tokens)."""
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j"), (3, "k l m n o")],
        "doc_id long, text string",
    )
    rows = sorted(textops.pack_sequences(df, seq_len=7).collect())
    assert [(r.doc_id, r.start_offset, r.bin_id) for r in rows] == [
        (1, 0, 0), (2, 5, 0), (3, 10, 1)]
    assert all(r.n_tokens == 5 for r in rows)


def test_pack_sequences_partitioning_independent(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(map(tuple, textops.pack_sequences(docs, 512).collect()))
    b = sorted(map(tuple, textops.pack_sequences(docs.repartition(5), 512).collect()))
    assert a == b
    # contiguity over the whole corpus: sum of n_tokens == last cum
    by_start = sorted(a, key=lambda t: t[2])
    acc = 0
    for (_id, n, start, _bin) in by_start:
        assert start == acc
        acc += n


def test_pack_sequences_shuffled_order(spark):
    """shuffle_seed packs in unit-hash order: the layout is a valid
    contiguous packing (same token total, every start = a prefix sum
    of the permuted order), is NOT the id order for this corpus, and
    is identical across reruns/partitionings."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops.sampling import unit_hash

    df = spark.createDataFrame(
        [(i, " ".join(["tok"] * (i + 1))) for i in range(20)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, textops.pack_sequences(df, 16, shuffle_seed=3).collect()))
    b = sorted(map(tuple, textops.pack_sequences(
        df.repartition(5), 16, shuffle_seed=3).collect()))
    assert a == b
    # the permutation is exactly sort-by-unit-hash
    order = [
        r.doc_id for r in df.select(
            "doc_id", unit_hash("doc_id", 3).alias("u")
        ).orderBy("u", "doc_id").collect()
    ]
    got = {r[0]: r for r in a}
    acc = 0
    for did in order:
        assert got[did][2] == acc  # start_offset follows the hash order
        acc += got[did][1]
    assert order != sorted(order)  # genuinely shuffled for this corpus


def test_repetition_signals_single_doc_grain_exchange(spark, docs):
    """The explicit doc-id repartition must be the ONLY exchange: hash
    partitioning on id is a subset of every downstream grouping key, so
    the (id,n,gram) counts, (id,n) fracs, and (id) pivot all aggregate
    partition-locally."""
    import re

    plan = (
        textops.repetition_signals(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Exchange (hash|range)partitioning", plan)) == 1
    assert "BatchEvalPython" not in plan


def test_seed_similarity_scores(spark, emb):
    """A seed doc scores 1.0 against itself; everyone's score is the
    max over the seed set and lies in [-1, 1]; the guard raises on
    oversized and empty seed sets."""
    seeds = emb.limit(3)
    r = {x.vec_id: x.seed_sim for x in
         similarity.seed_similarity_scores(emb.limit(50), seeds).collect()}
    seed_ids = [x.vec_id for x in seeds.collect()]
    for sid in seed_ids:
        assert abs(r[sid] - 1.0) < 1e-9  # self is among the seeds
    assert all(-1.0 - 1e-9 <= v <= 1.0 + 1e-9 for v in r.values())
    with pytest.raises(ValueError):
        similarity.seed_similarity_scores(emb, emb, max_seeds=5)
    with pytest.raises(ValueError):
        similarity.seed_similarity_scores(emb, emb.where("vec_id < 0"))


def test_seed_similarity_zero_shuffle_plan(spark, emb):
    plan = (
        similarity.seed_similarity_scores(emb, emb.limit(3))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_paragraph_scrub_removes_eval_spans(spark):
    """Paragraphs present in the eval set are scrubbed from every doc
    (normalized matching); untouched docs pass through whole; an
    all-contaminated doc survives with empty text."""
    corpus = spark.createDataFrame(
        [(1, "own words here\n\nThe  Eval Question\n\nmore own words"),
         (2, "totally unrelated doc"),
         (3, "the eval question")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(9, "intro\n\nthe eval question")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.paragraph_scrub(corpus, ev).collect()}
    assert out[1].clean_text == "own words here\n\nmore own words"
    assert out[1].n_scrubbed == 1 and out[1].n_kept == 2
    assert out[2].clean_text == "totally unrelated doc" and out[2].n_scrubbed == 0
    assert out[3].clean_text == "" and out[3].n_kept == 0


def test_clean_lines_c4_rules(spark):
    """Each C4 line rule fires independently: short lines, lines
    without terminal punctuation, and banned-substring lines drop;
    pages with < min_lines survivors or page-level markers flag
    keep=False while still returning their cleaned text."""
    good = "alpha beta gamma delta epsilon zeta."
    docs = spark.createDataFrame(
        [
            (1, f"{good}\ntoo short.\nno terminal punct here at all\n"
                f"enable javascript to view this page.\n{good}\n{good}"),
            (2, f"{good}\n{good}"),               # only 2 survivors
            (3, f"{good}\n{good}\n{good} lorem ipsum."),  # page marker
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textops.clean_lines(docs).collect()}
    assert out[1].keep and out[1].n_kept == 3 and out[1].n_dropped == 3
    assert out[1].clean_text == "\n".join([good, good, good])
    assert not out[2].keep and out[2].n_kept == 2
    assert not out[3].keep  # line gates passed, page marker kills it
    assert out[3].n_kept == 3


def test_lm_score_ranks_gibberish_above_common_text(spark):
    """Docs made of corpus-common tokens score low NLL; a doc of
    unique tokens (all OOV at the smoothed floor) scores highest."""
    common = [(i, "the cat sat on the mat") for i in range(10)]
    docs = spark.createDataFrame(
        common + [(99, "zxqv wmplk qqrst vvbnm")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.lm_score(docs, top_k=8).collect()}
    assert rows[99].lm_nll > rows[0].lm_nll
    assert rows[0].n_tokens == 6 and rows[99].n_tokens == 4
    # every common-doc score identical (same token multiset)
    assert len({rows[i].lm_nll for i in range(10)}) == 1


def test_lm_score2_order_sensitivity(spark):
    """The VERDICT-r5 demonstration: a shuffled bag of common words is
    INVISIBLE to the unigram score (same token multiset -> identical
    lm_nll) but the bigram interpolation separates it — natural
    repeated-transition text scores strictly lower than the same
    tokens in scrambled order."""
    natural = "the cat sat on the mat"
    # same 6 tokens, order scrambled so no natural bigram survives
    scrambled = "mat the on cat the sat"
    docs = spark.createDataFrame(
        [(i, natural) for i in range(10)] + [(99, scrambled)],
        "doc_id long, text string",
    )
    uni = {r.doc_id: r.lm_nll for r in textops.lm_score(docs, top_k=8).collect()}
    assert uni[0] == uni[99]  # unigram LM cannot tell them apart
    bi = {r.doc_id: r for r in textops.lm_score2(docs, top_k=8).collect()}
    assert bi[0].lm_nll2 < bi[99].lm_nll2
    assert bi[0].n_events == 5 and bi[99].n_events == 5


def test_lm_score2_short_doc_contract(spark):
    """Docs with <2 tokens have no bigram events and are absent."""
    docs = spark.createDataFrame(
        [(1, "only"), (2, "two tokens")], "doc_id long, text string"
    )
    out = {r.doc_id for r in textops.lm_score2(docs, top_k=8).collect()}
    assert out == {2}


def test_perplexity_buckets_head_and_tail(spark):
    """Natural repeated-transition docs land in head (score == the
    sample's lower tertile value), scrambled-order docs in tail; the
    assignment is a pure function of (ids, seed) — rerun-identical."""
    natural = [(i, "the cat sat on the mat") for i in range(10)]
    # RARE single-permutation scrambles: same token multiset, bigrams
    # seen at most twice corpus-wide (a repeated scramble family would
    # itself become the majority dialect and score LOW)
    scrambled = [(100, "mat the on cat the sat"), (101, "on mat the sat cat the")]
    docs = spark.createDataFrame(natural + scrambled, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in textops.perplexity_buckets(docs, top_k=8, sample_n=999).collect()
    }
    assert len(out) == 12
    assert all(out[i].bucket == "head" for i in range(10))
    assert out[100].bucket == "tail" and out[101].bucket == "tail"
    rerun = {
        r.doc_id: (r.lm_nll2, r.bucket)
        for r in textops.perplexity_buckets(docs, top_k=8, sample_n=999).collect()
    }
    assert rerun == {i: (r.lm_nll2, r.bucket) for i, r in out.items()}


def test_perplexity_buckets_scores_materialized_once(spark, docs):
    """The scored frame feeds two consumers (threshold sample + final
    bucket pass); the final plan must read the CHECKPOINTED scores
    (RDD scan), not re-run the whole bigram-LM lineage."""
    plan = (
        textops.perplexity_buckets(docs, top_k=16, sample_n=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Scan ExistingRDD" in plan
    assert "Generate explode" not in plan  # no re-derived LM pipeline


def test_lm_score2_broadcasts_both_vocabs(spark, docs):
    """Both vocabulary cuts join BROADCAST against the pair events
    (token/bigram frequency is maximally skewed), and the corpus
    explode behind the checkpointed unigram vocab never re-runs in
    the final plan (RDD scans on the build sides)."""
    plan = (
        textops.lm_score2(docs, top_k=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Scan ExistingRDD" in plan


def test_lm_score_broadcasts_vocab(spark, docs):
    plan = (
        textops.lm_score(docs, top_k=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_lm_score_vocab_materialized_once(spark, docs):
    """The broadcast build must read the CHECKPOINTED vocabulary, not
    re-run the corpus explode + count shuffle: unmaterialized, the
    full token lineage executes three times (total collect, broadcast
    build, probe) — the token_budget double-execution pattern. The
    final plan therefore carries exactly ONE Generate (the probe-side
    explode) and an RDD scan on the build side."""
    plan = (
        textops.lm_score(docs, top_k=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Generate explode") == 1
    assert "Scan ExistingRDD" in plan


def test_clean_lines_zero_shuffle_plan(spark, docs):
    plan = (
        textops.clean_lines(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_semantic_dedup_drops_planted_duplicates(spark, emb):
    """A copy and a scaled copy of vec 7 (cosine 1.0) land in vec 7's
    cluster and are dropped; vec 7 itself (lowest id) survives — under
    the PRODUCTION config (Lloyd-refined centroids, n_iter=2)."""
    v7 = emb.where("vec_id = 7").select(
        F.lit(9001).cast("long").alias("vec_id"), "embedding", "label"
    )
    scaled = emb.where("vec_id = 7").select(
        F.lit(9002).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        "label",
    )
    df = emb.union(v7).union(scaled)
    marked, obs = similarity.semantic_dedup(df, dim=64, n_clusters=4,
                                            threshold=0.999, n_iter=2)
    assert obs is None  # no cap requested
    rows = {r.vec_id: r for r in marked.collect()}
    assert rows[7].keep and not rows[9001].keep and not rows[9002].keep
    assert rows[7].cluster == rows[9001].cluster == rows[9002].cluster
    assert len(rows) == df.count()  # one verdict per input item


def test_semantic_dedup_seed_quantizer_agrees_on_planted(spark, emb):
    """The oracle-gated n_iter=0 seed quantizer reaches the same
    verdicts on planted exact duplicates as the refined production
    config — identical vectors always share a cluster."""
    v7 = emb.where("vec_id = 7").select(
        F.lit(9001).cast("long").alias("vec_id"), "embedding", "label"
    )
    df = emb.union(v7)
    marked, _ = similarity.semantic_dedup(df, dim=64, n_clusters=4,
                                          threshold=0.999, n_iter=0)
    rows = {r.vec_id: r for r in marked.collect()}
    assert rows[7].keep and not rows[9001].keep


def test_paragraph_scrub_broadcasts_eval_side(spark):
    corpus = spark.createDataFrame([(1, "a\n\nb")], "doc_id long, text string")
    ev = spark.createDataFrame([(9, "b")], "doc_id long, text string")
    plan = (
        dedup.paragraph_scrub(corpus, ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cluster_sample_balanced_selection(spark, emb):
    """Every cluster contributes at most per_cluster keepers; ranks are
    contiguous from 1 within each cluster; one verdict per input item."""
    r = similarity.cluster_sample(emb, dim=64, n_clusters=4, per_cluster=3,
                                  n_iter=0, mode="prototype")
    rows = r.collect()
    assert len(rows) == emb.count()
    by_cluster: dict[int, list] = {}
    for x in rows:
        by_cluster.setdefault(x.cluster, []).append(x)
    for c, items in by_cluster.items():
        kept = [x for x in items if x.keep]
        assert len(kept) == min(3, len(items))
        assert sorted(x.rank for x in kept) == list(range(1, len(kept) + 1))
        # prototype mode: every keeper is at least as central as every drop
        if len(items) > len(kept):
            assert max(x.dist for x in kept) <= min(
                x.dist for x in items if not x.keep
            )


def test_cluster_sample_outlier_mode_inverts_rank(spark, emb):
    proto = similarity.cluster_sample(emb, dim=64, n_clusters=4, per_cluster=1,
                                      n_iter=0, mode="prototype")
    outl = similarity.cluster_sample(emb, dim=64, n_clusters=4, per_cluster=1,
                                     n_iter=0, mode="outlier")
    p = {r.cluster: r.dist for r in proto.where("keep").collect()}
    o = {r.cluster: r.dist for r in outl.where("keep").collect()}
    for c in p:
        assert p[c] <= o[c]
    with pytest.raises(ValueError):
        similarity.cluster_sample(emb, dim=64, mode="weird")


@pytest.mark.parametrize("k", [4, 64])
def test_cluster_sample_assignment_is_map_only(spark, emb, k):
    """Centroid assignment adds no exchange on either side of the
    expression/GEMM switch: the only exchange in the plan is the
    cluster-keyed rank window's."""
    plan = (
        similarity.cluster_sample(emb, dim=64, n_clusters=k, n_iter=0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1


def test_tfidf_corpus_wide_term_scores_low(spark):
    """A term present in every doc has idf ln(1)=0 and never outranks a
    distinctive term; per-doc output is capped at top_terms."""
    rows = [(i, f"common shared word{i} word{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = textops.tfidf_terms(df, top_terms=2).collect()
    by_doc: dict[int, list] = {}
    for x in r:
        by_doc.setdefault(x.doc_id, []).append(x)
    for i, items in by_doc.items():
        assert len(items) == 2
        top = min(items, key=lambda x: x.rank)
        assert top.term == f"word{i}"  # tf=2, df=1 beats everything
        assert top.tf == 2 and top.df_docs == 1
        # corpus-wide terms score exactly 0.0 on the floored grid
        assert all(x.tfidf == 0.0 for x in items if x.term in ("common", "shared"))


def test_ngram_stats_counts_and_docfreq(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string",
    )
    r = {x.gram: x for x in textops.ngram_stats(df, n=2, top_k=10).collect()}
    # doc 1 bigrams: "a b", "b a", "a b"; doc 2: "a b", "b c"; doc 3: none
    assert r["a b"].occurrences == 3 and r["a b"].n_docs == 2
    assert r["b a"].occurrences == 1 and r["b a"].n_docs == 1
    assert r["b c"].occurrences == 1 and r["b c"].n_docs == 1
    assert "x" not in r  # single-token docs emit no bigrams


def test_ngram_stats_topk_is_heap_not_global_sort(spark, docs):
    """The top-k cut must be TakeOrderedAndProject (per-partition
    heaps), not a global Sort over the gram table."""
    plan = (
        textops.ngram_stats(docs, n=2, top_k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_assign_gemm_parity_with_expr(spark, emb, monkeypatch):
    """The GEMM assignment path must agree with the literal-expression
    path item-for-item (cluster AND floored dist) — both at the k=8
    oracle config and at a k above the auto switch."""
    for k in (8, 64):
        got = []
        for switch in (1 << 30, 1):  # force the expression path, then GEMM
            monkeypatch.setattr(similarity, "_GEMM_AUTO_K", switch)
            r = similarity.cluster_sample(emb, dim=64, n_clusters=k, per_cluster=2, n_iter=0)
            got.append({x.vec_id: (x.cluster, x.dist, x.rank, x.keep) for x in r.collect()})
        assert got[0] == got[1]


def test_assign_gemm_carries_string_id_type(spark):
    """_assign_gemm must pass a non-long id column through untouched
    (the id never enters the GEMM) — the output schema derives from the
    input's id type instead of hardcoding LongType."""
    rows = [(f"doc-{i}", [float(i), float(i % 3), 0.0, 1.0]) for i in range(12)]
    df = spark.createDataFrame(rows, "sid string, v array<double>")
    cents = [[0.0, 0.0, 0.0, 1.0], [8.0, 1.0, 0.0, 1.0]]
    out = similarity._assign_gemm(df, cents, "sid", "v", grid=4)
    assert dict(out.dtypes)["sid"] == "string"
    got = {r.sid: r.cluster for r in out.collect()}
    assert set(got) == {f"doc-{i}" for i in range(12)}
    assert got["doc-0"] == 0 and got["doc-11"] == 1


def test_semantic_dedup_gemm_parity(spark, emb, monkeypatch):
    got = []
    for switch in (1 << 30, 1):  # force the expression path, then GEMM
        monkeypatch.setattr(similarity, "_GEMM_AUTO_K", switch)
        m, _ = similarity.semantic_dedup(emb, dim=64, n_clusters=8, threshold=0.2, n_iter=0)
        got.append({r.vec_id: (r.cluster, r.keep) for r in m.collect()})
    assert got[0] == got[1]


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs sharing the target slice's vocabulary outscore docs that
    don't; output covers every raw doc."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    raw_rows = [(i, "aurora borealis polar zenith") for i in range(5)] + [
        (i, "mundane filler chatter noise") for i in range(5, 25)
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100 + i, "aurora borealis zenith polar lights") for i in range(4)],
        "doc_id long, text string",
    )
    w = {r.doc_id: r.logw for r in sampling.dsir_weights(raw, target, n_buckets=64).collect()}
    assert len(w) == 25
    assert min(w[i] for i in range(5)) > max(w[i] for i in range(5, 25))


def test_dsir_select_is_deterministic_and_weight_biased(spark):
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    raw_rows = [(i, "aurora borealis polar zenith") for i in range(10)] + [
        (i, "mundane filler chatter noise") for i in range(10, 60)
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(900, "aurora borealis zenith polar")], "doc_id long, text string"
    )
    pick1 = {r.doc_id for r in sampling.dsir_select(raw, target, k=10, n_buckets=64).collect()}
    pick2 = {
        r.doc_id
        for r in sampling.dsir_select(
            raw.repartition(7), target, k=10, n_buckets=64
        ).collect()
    }
    assert pick1 == pick2  # partitioning-independent selection
    assert len(pick1) == 10
    # weight bias: the 10 target-like docs dominate the draw
    assert len([d for d in pick1 if d < 10]) >= 7


def test_dsir_ratio_applies_without_any_join(spark, docs):
    """At small n_buckets the log-ratio applies as a constant-folded
    literal array lookup: the scoring plan has NO join at all (a
    shuffle join keyed by feature bucket would hot-spot on stopword
    buckets; even a broadcast join is a needless build)."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    w = sampling.dsir_weights(docs, docs.where("doc_id % 13 = 0"), n_buckets=256)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_dsir_large_bucket_count_switches_to_broadcast_dim(spark):
    """Past the literal-array threshold the ratio ships as a broadcast
    dim instead of a driver-built literal tree (the serial-constant
    defect the semantic-dedup probe measured)."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    df = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(4)], "doc_id long, text string"
    )
    w = sampling.dsir_weights(df, df, n_buckets=70000)
    plan = w._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_substring_dedup_excises_planted_spans(spark):
    """Cross-doc 8-token spans are excised from BOTH carriers (all
    occurrences removed, deterministic — no keeper election), merged
    into one maximal span when windows overlap; within-doc verbatim
    repeats are excised too; docs without duplicated spans pass
    through normalized; every input doc is retained."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta UNIQUE1 one two"),
        (2, "prefix alpha beta gamma delta epsilon zeta eta theta SUFFIX"),
        (3, "totally different words here nothing shared at all okay"),
        (4, "short doc"),
        (5, "rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.substring_dedup(df, k=8).collect()}
    assert len(got) == 6
    # the shared 8-token run disappears from both docs, neighbors stay
    assert got[1].clean_text == "unique1 one two"
    assert got[2].clean_text == "prefix suffix"
    assert (got[1].n_spans, got[1].n_dup_tokens) == (1, 8)
    assert (got[2].n_spans, got[2].n_dup_tokens) == (1, 8)
    # unique docs pass through (lowercased by the shared tokenize)
    assert got[3].clean_text == rows[2][1] and got[3].n_dup_tokens == 0
    assert got[4].clean_text == "short doc" and got[4].n_spans == 0
    # within-doc repetition: overlapping dup windows merge to ONE span
    # covering the whole doc
    assert got[5].clean_text == "" and got[5].n_spans == 1
    assert got[5].n_dup_tokens == got[5].n_tokens == 16
    assert got[6].clean_text == ""


def test_substring_dedup_keep_first_policy(spark):
    """The paper's all-but-one form: the (doc_id, pos)-smallest
    occurrence of a duplicated window is not duplicate evidence, so
    the first carrier survives verbatim while later copies excise;
    within-doc repeats keep exactly the first window's fresh token."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta UNIQUE1 one two"),
        (2, "prefix alpha beta gamma delta epsilon zeta eta theta SUFFIX"),
        (5, "rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in dedup.substring_dedup(df, k=8, policy="keep_first").collect()
    }
    # doc 1 holds the smallest (doc_id, pos) occurrence -> fully intact
    assert got[1].clean_text == rows[0][1].lower()
    assert got[1].n_dup_tokens == 0 and got[1].n_spans == 0
    # doc 2's copy is excised as usual
    assert got[2].clean_text == "prefix suffix"
    assert (got[2].n_spans, got[2].n_dup_tokens) == (1, 8)
    # within-doc repetition: the pos-0 window is the keeper, so the
    # merged span starts at pos 1 and the first token survives
    assert got[5].clean_text == "rep"
    assert got[5].n_dup_tokens == 15 and got[5].n_spans == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.substring_dedup(df, policy="nope")


def test_substring_dedup_merges_disjoint_spans_and_min_count(spark):
    """Two separated duplicated runs in one doc give two spans; raising
    min_count above the occurrence count disables excision."""
    span_a = "a1 a2 a3 a4 a5 a6 a7 a8"
    span_b = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [
        (1, f"{span_a} MID1 MID2 MID3 {span_b}"),
        (2, f"left {span_a} right"),
        (3, f"{span_b} tail words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.substring_dedup(df, k=8).collect()}
    assert got[1].n_spans == 2
    assert got[1].clean_text == "mid1 mid2 mid3"
    assert got[2].clean_text == "left right"
    assert got[3].clean_text == "tail words"
    # each span occurs exactly twice: min_count=3 keeps everything
    kept = {r.doc_id: r for r in dedup.substring_dedup(df, k=8, min_count=3).collect()}
    assert all(kept[i].n_dup_tokens == 0 for i in (1, 2, 3))


def test_token_arrays_staged_once_in_hot_plans(spark, docs):
    """Token/shingle arrays must be STAGED through a real column in
    every gram-building op: an inline split() gets duplicated by
    Catalyst into each element_at inside the transform lambdas and the
    text is re-split PER ELEMENT — O(tokens^2) per doc (measured 2-8x
    wall on dsir_weights/ngram_stats at sf0.1; the unstaged
    _doc_features plan carried 7 split() copies). The staged alias is
    non-cheap and multi-referenced, which blocks CollapseProject from
    re-inlining it — each plan's split() count stays at one per scanned
    text input."""
    from fluent_plugin_kubernetes_metadata_filter_spark.ops import sampling

    eval_df = docs.limit(5).select("doc_id", "text")
    cases = {
        "dsir_features": sampling._doc_features(docs, "text", "doc_id", (1, 2), 64),
        "ngram_stats": textops.ngram_stats(docs, n=2, top_k=10),
        "fingerprint": textops.fingerprint(docs),
        "repetition": textops.repetition_signals(docs),
        "langid": textops.langid(docs),
        "minhash_xx": dedup.minhash_signatures(docs, n_perm=4),
        "minhash_md5": dedup.minhash_signatures(docs, n_perm=4, shingle_hash="md5"),
        # two text inputs (corpus + eval), one split each
        "decontaminate": dedup.decontaminate(docs, eval_df),
        # one text input scanned three times by design (freq build,
        # join probe, doc-grain reassembly — see the op's docstring),
        # one split per scan
        "substring_dedup": dedup.substring_dedup(docs, k=8),
    }
    for name, df in cases.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_inputs = {"decontaminate": 2, "substring_dedup": 3}.get(name, 1)
        assert plan.count("split(") <= n_inputs, (
            f"{name}: {plan.count('split(')} split() occurrences "
            f"(expected <= {n_inputs}) — token array no longer staged"
        )


def test_langid_each_profile_classifies_its_own_words(spark):
    """A doc made of exactly one profile's stopwords scores 7 on that
    profile and at most a couple on any other (shared words like es/nl
    'de' or fr/it 'e' overlap), so argmax picks it — pins that adding
    languages keeps every profile reachable and ties keep resolving to
    the earlier dict entry."""
    rows = [(i, lang, " ".join(ws))
            for i, (lang, ws) in enumerate(textops.LANG_PROFILES.items())]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r.lang: r.lang_pred for r in textops.langid(docs).collect()}
    assert got == {lang: lang for lang in textops.LANG_PROFILES}


def test_bp_chunk_features_vectorized_parity():
    """The round-7 vectorized decoder (one reduceat over the
    concatenated batch) must reproduce the per-row np.array_split
    formulation bit-for-bit, including None/empty/short/trailing-empty
    payloads and both chunk counts."""
    import numpy as np
    import pandas as pd

    def reference(payload, n_chunks):
        def feat(b):
            if b is None or len(b) == 0:
                return [0.0] * n_chunks
            a = np.frombuffer(b, dtype=np.uint8)
            return [
                float(int(c.sum()) * 10000 // (len(c) * 255)) if len(c) else 0.0
                for c in np.array_split(a, n_chunks)
            ]
        return payload.map(feat)

    rng = np.random.RandomState(7)
    payloads = pd.Series(
        [None, b"", b"\x01", bytes(range(256)), b"x" * 63, b"y" * 65]
        + [bytes(rng.randint(0, 256, size=rng.randint(0, 400), dtype=np.uint8))
           for _ in range(50)]
    )
    for n_chunks in (8, 64):
        got = multimodal._bp_chunk_features(payloads, n_chunks)
        want = reference(payloads, n_chunks)
        assert [list(g) for g in got] == [list(w) for w in want]
