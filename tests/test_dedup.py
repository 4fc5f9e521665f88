"""Unit tests for the dedup operator family on tiny inline data: hash
determinism, MinHash containment behavior, SimHash pigeonhole completeness,
and the greedy sequential scan's keep/replace/drop branches."""

import hashlib

import pyspark.sql.functions as F

from datapipeline_ops_spark.operators.dedup import (
    MINHASH_ABC,
    MINHASH_P,
    SIMHASH_SEGMENTS,
    jaccard,
    minhash_signature,
    simhash_segments,
    with_shingles,
)
from datapipeline_ops_spark.operators.greedy import OV_T, SIM_T, _hash_unit, greedy_keep


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")], ["id", "text"]
    )
    out = (
        with_shingles(df, "text")
        .withColumn("sig", minhash_signature(F.col("shingles")))
        .select("id", "sig")
        .collect()
    )
    sigs = {r.id: tuple(r.sig) for r in out}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_matches_python_model(spark):
    text = "one two three four five"
    df = spark.createDataFrame([(1, text)], ["id", "text"])
    row = (
        with_shingles(df, "text")
        .withColumn("sig", minhash_signature(F.col("shingles")))
        .first()
    )
    sh = set(row.shingles)
    for j, (a, b, c) in enumerate(MINHASH_ABC):
        expected = min(
            (a * (h & ((1 << 30) - 1)) + b * (h >> 30) + c) % MINHASH_P
            for h in (int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in sh)
        )
        assert row.sig[j] == expected
    # decorrelation: all multiplier pairs distinct (the old (j % 7) + 1
    # scheme gave seeds 0 and 7 identical multipliers)
    assert len({(a, b) for a, b, _ in MINHASH_ABC}) == len(MINHASH_ABC)


def test_short_doc_falls_back_to_whole_text(spark):
    df = spark.createDataFrame([(1, "ab cd")], ["id", "text"])  # < 3 tokens
    row = with_shingles(df, "text").first()
    assert row.shingles == ["ab cd"]


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], ["x", "y"])
    assert df.select(jaccard(F.col("x"), F.col("y")).alias("j")).first().j == 0.5


def test_simhash_segments_cover_all_bits(spark):
    from datapipeline_ops_spark.operators.dedup import SIMHASH_BITS, SIMHASH_RADIUS

    covered = set()
    for off, width in SIMHASH_SEGMENTS:
        covered |= set(range(off, off + width))
    # disjoint cover of all bits with radius+1 segments = the pigeonhole
    # guarantee that any pair within the radius shares a whole segment
    assert covered == set(range(SIMHASH_BITS))
    assert sum(w for _, w in SIMHASH_SEGMENTS) == SIMHASH_BITS
    assert len(SIMHASH_SEGMENTS) == SIMHASH_RADIUS + 1
    df = spark.createDataFrame([(0b1010101010101010,)], ["f"])
    segs = df.select(simhash_segments(F.col("f")).alias("s")).first().s
    assert [s.seg for s in segs] == list(range(len(SIMHASH_SEGMENTS)))
    # segment values reassemble the fingerprint exactly
    assert sum(s.val << SIMHASH_SEGMENTS[s.seg][0] for s in segs) == 0b1010101010101010


def _greedy_python(keys):
    kept = []
    for k in keys:
        pos, q, ov = _hash_unit(k, 11), _hash_unit(k, 12), _hash_unit(k, 13)
        if not kept:
            kept.append((k, pos, q, ov))
            continue
        sims = [1 - abs(e[1] - pos) for e in kept]
        best = max(sims)
        bi = sims.index(best)
        if best >= SIM_T:
            if q > kept[bi][2]:
                kept[bi] = (k, pos, q, ov)
        elif max(1 - abs(e[3] - ov) for e in kept) >= OV_T:
            pass
        else:
            kept.append((k, pos, q, ov))
    return [e[0] for e in kept]


def test_greedy_matches_python_reference(spark):
    rows = [(g, i) for g in range(3) for i in range(40)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    got = {
        (r.grp, r.key) for r in greedy_keep(df, group_col="grp", order_col="key").collect()
    }
    expected = {(g, k) for g in range(3) for k in _greedy_python(list(range(40)))}
    assert got == expected


def test_greedy_is_order_dependent_not_orderfree(spark):
    # sanity: the scan result depends on scan order for at least one of the
    # shuffled prefixes — guards against someone "simplifying" it to an
    # order-free group-by (documented divergence risk, SURVEY.md §2.2)
    keys = list(range(60))
    fwd = _greedy_python(keys)
    rev = _greedy_python(list(reversed(keys)))
    assert sorted(fwd) != sorted(rev)


def test_corpus_curation_funnel_invariants(spark):
    """The curation output must be (a) a subset of the exact-dedup keepers,
    (b) contain at most one member per near-dup cluster, and (c) drop every
    below-threshold-quality doc."""
    import pyspark.sql.functions as F

    from datapipeline_ops_spark.queries.dedup import (
        corpus_curation_e2e,
        dedup_exact_keepers,
    )
    from datapipeline_ops_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    kept = {r.doc_id for r in corpus_curation_e2e(spark, sf).collect()}
    keepers = {r.doc_id for r in dedup_exact_keepers(spark, sf).collect()}
    assert kept <= keepers

    docs = load_table(spark, sf, "documents")
    short = {
        r.doc_id
        for r in docs.filter(F.size(F.split("text", r"\s+")) < 10).collect()
    }
    assert not (kept & short)

    # band buckets depend only on a doc's own shingles, so any VERIFIED
    # near-dup pair whose two endpoints both pass the quality gate is also
    # found by the post-filter funnel — both endpoints surviving means the
    # keeper step failed. (Cluster-level comparison would be unsound: a
    # full-corpus cluster can bridge two funnel clusters through a
    # quality-dropped doc.)
    from datapipeline_ops_spark.queries.dedup import minhash_lsh_pairs

    for r in minhash_lsh_pairs(spark, sf).collect():
        assert not (r.doc_a in kept and r.doc_b in kept), (r.doc_a, r.doc_b)


def test_lsh_bucket_cap_skips_degenerate_buckets(spark):
    """70 identical boilerplate docs put every one of their band buckets over
    LSH_MAX_BUCKET — the quadratic 70*69/2 candidate set must NOT be emitted.
    A genuine near-dup pair in healthy buckets still comes through. (In the
    curation funnel exact dedup runs first, so degenerate exact-dup buckets
    never even reach LSH; the cap guards against shared boilerplate.)"""
    from datapipeline_ops_spark.operators.dedup import LSH_MAX_BUCKET, with_shingle_hashes
    from datapipeline_ops_spark.queries.dedup import _lsh_verified_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(LSH_MAX_BUCKET + 6)]
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1001, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.doc_a, r.doc_b) for r in _lsh_verified_pairs(with_shingle_hashes(df, "doc_id")).collect()}
    assert (1000, 1001) in pairs, "healthy near-dup pair lost"
    assert all(a >= 1000 for a, _ in pairs), f"degenerate bucket emitted pairs: {sorted(pairs)[:5]}"


def test_embedding_near_dup_blocked_equals_bruteforce(spark, sf_dir):
    """The blocked self-join must emit exactly the brute-force pair set —
    blocking changes the plan, never the result."""
    import pyspark.sql.functions as F

    from datapipeline_ops_spark.functions.vectors import as_double, cosine
    from datapipeline_ops_spark.queries.similarity import (
        NEAR_DUP_TAU,
        embedding_near_dup,
    )
    from datapipeline_ops_spark.tables import load_table

    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    brute = {
        (r.vec_a, r.vec_b)
        for r in a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= NEAR_DUP_TAU)
        .collect()
    }
    blocked = {(r.vec_a, r.vec_b) for r in embedding_near_dup(spark, sf_dir).collect()}
    assert blocked == brute and len(brute) > 0


def test_embedding_near_dup_lsh_subset_and_hamming_spec(spark, sf_dir):
    """LSH pairs ⊆ exact pairs (verify step guarantees no false positives),
    and the probe join finds EVERY Hamming≤1 pair (its own spec exactly)."""
    from datapipeline_ops_spark.queries.similarity import (
        embedding_near_dup,
        embedding_near_dup_lsh,
        ann_lsh_buckets,
    )

    exact = {(r.vec_a, r.vec_b) for r in embedding_near_dup(spark, sf_dir).collect()}
    lsh = {(r.vec_a, r.vec_b) for r in embedding_near_dup_lsh(spark, sf_dir).collect()}
    assert lsh <= exact
    buckets = {r.vec_id: r.bucket for r in ann_lsh_buckets(spark, sf_dir).collect()}
    spec = {
        (a, b)
        for (a, b) in exact
        if bin(buckets[a] ^ buckets[b]).count("1") <= 1
    }
    assert lsh == spec


def test_connected_components_long_chain(spark):
    """A 60-node chain (diameter 59 > max_iters=20) must fully converge —
    pointer jumping makes rounds O(log diameter), and non-convergence now
    raises instead of silently splitting clusters."""
    from datapipeline_ops_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(59)], ["doc_a", "doc_b"])
    labels = {
        r.node: r.label
        for r in connected_components(pairs, small_graph_edges=0).collect()
    }
    assert set(labels.values()) == {0} and len(labels) == 60


def test_connected_components_matches_union_find(spark):
    """Random-ish deterministic graph vs a python union-find ground truth."""
    import hashlib

    from datapipeline_ops_spark.operators.dedup import connected_components

    n = 200
    edges = []
    for i in range(n):
        h = int(hashlib.md5(f"cc:{i}".encode()).hexdigest()[:8], 16)
        edges.append((h % n, (h >> 8) % n))
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {}
    for a, b in edges:
        for x in (a, b):
            truth[x] = find(x)
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.node: r.label for r in connected_components(pairs).collect()}
    assert got == truth


def test_connected_components_raises_on_budget_exhaustion(spark):
    import pytest

    from datapipeline_ops_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(i, i + 1) for i in range(30)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=2, small_graph_edges=0)


def test_connected_components_empty_input(spark):
    from datapipeline_ops_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert connected_components(pairs).count() == 0


def test_ngram_df_cap_drops_boilerplate_only_pairs(spark):
    """Docs whose ONLY shared shingles exceed the df cap must not pair;
    docs sharing rare shingles still pair exactly."""
    import pyspark.sql.functions as F

    from datapipeline_ops_spark.operators.dedup import with_shingle_hashes
    from datapipeline_ops_spark.queries import dedup as dq

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    rows = [(i, boiler) for i in range(dq.NGRAM_MAX_DF + 4)]
    rows += [
        (2000, "rare alpha beta gamma delta epsilon zeta eta theta iota"),
        (2001, "rare alpha beta gamma delta epsilon zeta eta theta iota kap"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    d = with_shingle_hashes(df, "doc_id")
    ex = (
        d.select("doc_id", F.explode("hs").alias("s"))
        .withColumn("df", F.count(F.lit(1)).over(__import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy("s")))
        .filter(F.col("df") <= dq.NGRAM_MAX_DF)
        .select("doc_id", "s")
    )
    inter = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    pairs = {(r.doc_a, r.doc_b) for r in inter.collect()}
    assert (2000, 2001) in pairs, "rare-shingle pair lost"
    assert all(a >= 2000 for a, _ in pairs), f"boilerplate pairs leaked: {sorted(pairs)[:5]}"


def test_minhash_estimate_audit_statistics(spark, sf_dir):
    from datapipeline_ops_spark.queries import QUERIES

    rows = QUERIES["minhash_estimate_audit"].fn(spark, sf_dir).collect()
    assert rows
    errs = [r.abs_err for r in rows]
    mean = sum(errs) / len(errs)
    for r in rows:
        # est is an agreement fraction over k=8 components; every LSH
        # candidate matched at least one 2-row band, so est >= 2/8 by
        # construction (selection bias the audit exists to expose)
        assert 0.25 - 1e-9 <= r.est <= 1.0
        assert abs(r.est * 8 - round(r.est * 8)) < 1e-9
        assert 0.0 <= r.jaccard <= 1.0
        assert abs(r.abs_err - abs(r.est - r.jaccard)) < 1e-12
        assert abs(r.mean_abs_err - mean) < 1e-9
        assert abs(r.max_abs_err - max(errs)) < 1e-12
    # k=8 per-pair std is sqrt(J(1-J)/8) <= 0.18, but candidate selection
    # floors est at 0.25 for near-zero-J fluke pairs, so the mean error over
    # ALL candidates is bounded by ~the floor, not the sketch std
    assert mean < 0.5


def test_ngram_novelty_first_doc_is_fully_novel(spark, sf_dir):
    from datapipeline_ops_spark.queries import QUERIES
    from datapipeline_ops_spark.tables import load_table

    rows = {r.doc_id: r for r in QUERIES["ngram_novelty_rate"].fn(spark, sf_dir).collect()}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    first = rows[min(rows)]
    # the earliest doc introduces every one of its shingles
    assert first.n_novel == first.n_grams and first.novelty_rate == 1.0
    for r in rows.values():
        assert 0 <= r.n_novel <= r.n_grams
        assert abs(r.novelty_rate - r.n_novel / r.n_grams) < 1e-12


def test_lsh_tuning_report_monotone_tradeoff(spark, sf_dir):
    from datapipeline_ops_spark.queries import QUERIES

    rows = sorted(
        QUERIES["lsh_tuning_report"].fn(spark, sf_dir).collect(),
        key=lambda r: r.n_bands,
    )
    assert [(r.n_bands, r.rows_per_band) for r in rows] == [(1, 8), (2, 4), (4, 2), (8, 1)]
    n_true = {r.n_true for r in rows}
    assert len(n_true) == 1 and n_true.pop() > 0
    for prev, cur in zip(rows, rows[1:]):
        # more, narrower bands: candidates and recall never decrease
        assert cur.n_candidates >= prev.n_candidates
        assert cur.recall >= prev.recall - 1e-12
    for r in rows:
        assert r.n_verified <= r.n_candidates
        assert 0.0 <= r.precision <= 1.0 and 0.0 <= r.recall <= 1.0


def test_neardup_cluster_purity_shape(spark, sf_dir):
    from datapipeline_ops_spark.queries.dedup import neardup_cluster_purity

    rows = neardup_cluster_purity(spark, sf_dir).collect()
    assert rows
    lang_pure = sum(1 for r in rows if r.n_langs == 1) / len(rows)
    src_pure = sum(1 for r in rows if r.n_sources == 1) / len(rows)
    for r in rows:
        # clusters come from the pair graph, so every cluster has >= 2 members
        assert r.n_members >= 2
        assert 1 <= r.n_langs <= r.n_members
        assert 1 <= r.n_sources <= r.n_members
        assert 0.0 < r.top_lang_share <= 1.0
        # a pure cluster's majority share is exactly 1
        if r.n_langs == 1:
            assert r.top_lang_share == 1.0
        # the window-published corpus rates must equal the recomputed ones
        assert abs(r.lang_pure_rate - lang_pure) < 1e-9
        assert abs(r.source_pure_rate - src_pure) < 1e-9


def test_inbatch_negative_collisions_rate(spark, sf_dir):
    from datapipeline_ops_spark.queries.dedup import (
        _IBN_BATCHES,
        inbatch_negative_collisions,
    )

    rows = sorted(
        inbatch_negative_collisions(spark, sf_dir).collect(),
        key=lambda r: r.n_batches,
    )
    assert [r.n_batches for r in rows] == sorted(_IBN_BATCHES)
    n_pairs = rows[0].n_pairs
    for r in rows:
        assert r.n_pairs == n_pairs  # pair table shared across the sweep
        assert 0 <= r.n_collisions <= r.n_pairs
        if r.n_pairs > 0:
            assert 0.0 <= r.collision_rate <= 1.0
    # more batches -> fewer same-batch collisions (weak monotone)
    for a, b in zip(rows, rows[1:]):
        assert a.n_collisions >= b.n_collisions


def test_minhash_vs_simhash_agreement_accounting(spark, sf_dir):
    from datapipeline_ops_spark.queries.dedup import (
        minhash_lsh_pairs,
        minhash_vs_simhash_agreement,
        simhash_near_pairs,
    )

    rows = {r.found_by: r for r in minhash_vs_simhash_agreement(spark, sf_dir).collect()}
    n_m = minhash_lsh_pairs(spark, sf_dir).count()
    n_s = simhash_near_pairs(spark, sf_dir).count()
    both = rows["both"].n_pairs if "both" in rows else 0
    m_only = rows["minhash_only"].n_pairs if "minhash_only" in rows else 0
    s_only = rows["simhash_only"].n_pairs if "simhash_only" in rows else 0
    # the three buckets exactly partition the union of the two pair sets
    assert both + m_only == n_m
    assert both + s_only == n_s
    # jaccard stats exist exactly where the minhash leg contributes
    for fb, r in rows.items():
        if fb == "simhash_only":
            assert r.min_jaccard is None
        else:
            assert 0.5 <= r.min_jaccard <= r.max_jaccard <= 1.0


def test_dedup_removal_impact_parts_sum(spark, sf_dir):
    from datapipeline_ops_spark.queries.dedup import (
        corpus_curation_e2e,
        dedup_removal_impact,
    )

    rows = dedup_removal_impact(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # every document has exactly one fate
        assert (
            r.n_quality_removed + r.n_exact_removed + r.n_neardup_removed + r.n_kept
            == r.n_docs
        )
        assert 0.0 <= r.kept_share <= 1.0
    # the attribution's kept total equals the funnel's actual output
    kept_total = sum(r.n_kept for r in rows)
    assert kept_total == corpus_curation_e2e(spark, sf_dir).count()


def test_neardup_chain_overmerge_structure(spark, sf_dir):
    from datapipeline_ops_spark.queries.dedup import neardup_chain_overmerge

    rows = neardup_chain_overmerge(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_members >= 2
        possible = r.n_members * (r.n_members - 1) // 2
        # a connected component has between n-1 (tree/chain) and C(n,2) edges
        assert r.n_members - 1 <= r.n_edges <= possible
        assert 0.0 < r.edge_density <= 1.0
        assert r.chained == (r.n_edges < possible)
        assert 0.5 <= r.min_edge_jaccard <= 1.0  # every edge passed the tau gate
