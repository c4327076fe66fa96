"""LLM-extension properties that SQL oracles can't express: sketch
quality (minhash estimate accuracy, simhash Hamming separation) and
ANN consistency with the brute-force baseline."""

import os

import numpy as np
from pyspark.sql import functions as F

from dynamodb_pitr_restore_cdc_spark.registry import all_queries

SPECS = all_queries()


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_minhash_estimates_jaccard(spark, sf_dir):
    """Signature agreement rate must estimate true Jaccard for the
    planted near-dup pairs (J≈0.98 -> expect >=75% perms matching)."""
    from dynamodb_pitr_restore_cdc_spark.llm.dedup import minhash_signature
    from dynamodb_pitr_restore_cdc_spark.sources import table

    pairs = SPECS["q_llm_near_dedup"].builder(spark, sf_dir).collect()
    assert len(pairs) > 0
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = {
        r.doc_id: np.array(r.sig)
        for r in d.withColumn("sig", minhash_signature("text")).collect()
    }
    for p in pairs:
        agree = (sigs[p.doc_a] == sigs[p.doc_b]).mean()
        assert agree >= 0.75, (p.doc_a, p.doc_b, agree, p.jaccard)


def test_simhash_separates_near_dups(spark, sf_dir):
    """Near-dup pairs must sit close in Hamming space; random pairs far."""
    sh = {
        r.doc_id: r.simhash
        for r in SPECS["q_llm_simhash"].builder(spark, sf_dir).collect()
    }
    pairs = SPECS["q_llm_near_dedup"].builder(spark, sf_dir).collect()
    near = [_hamming(sh[p.doc_a], sh[p.doc_b]) for p in pairs]
    assert near and max(near) <= 16, near

    rng = np.random.RandomState(0)
    ids = sorted(sh)
    near_set = {(p.doc_a, p.doc_b) for p in pairs}
    rand = []
    while len(rand) < 50:
        a, b = rng.choice(ids, 2, replace=False)
        if (min(a, b), max(a, b)) not in near_set:
            rand.append(_hamming(sh[a], sh[b]))
    assert np.mean(rand) > 20, np.mean(rand)


def test_ann_scores_match_brute_force(spark, sf_dir):
    """LSH changes WHICH vectors are scored, never their scores: every
    ANN hit must carry exactly the brute-force cosine for that vec_id,
    and rank within the bucket must respect the global ranking."""
    ann = SPECS["q_llm_ann_lsh"].builder(spark, sf_dir).collect()
    assert len(ann) > 0
    brute = {
        r.vec_id: r.cos_sim
        for r in SPECS["q_llm_cosine_topk"]
        .builder(spark, sf_dir)
        .collect()
    }
    # recompute full brute-force scores for all ids (topk only has 10)
    from dynamodb_pitr_restore_cdc_spark.llm.similarity import (
        PROBE_VEC_ID,
        _as_double,
        cosine_col,
    )
    from dynamodb_pitr_restore_cdc_spark.sources import table

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    probe = e.where(F.col("vec_id") == PROBE_VEC_ID).select(F.col("v").alias("pv"))
    full = {
        r.vec_id: r.cos
        for r in e.where(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", F.round(cosine_col(F.col("v"), F.col("pv")), 4).alias("cos"))
        .collect()
    }
    for r in ann:
        assert abs(full[r.vec_id] - r.cos_sim) < 1e-9, r
    # soft recall floor: multi-probe (5/16 of corpus scored) must catch
    # at least a couple of the true top-10 even on near-orthogonal data
    brute_ids = set(brute)
    assert len({r.vec_id for r in ann} & brute_ids) >= 2


def test_simhash_pairs_recall_vs_minhash(spark, sf_dir):
    """SimHash banding's honest contract: pairs within 3 bits are
    GUARANTEED (pigeonhole over 4 bands); noisier near-dups (the
    planted pairs sit at hamming 6-14 with this corpus's tiny vocab)
    are found probabilistically. Assert the guarantee exactly and
    recall >= 60% on the MinHash-verified truth set."""
    from dynamodb_pitr_restore_cdc_spark.llm.dedup import simhash64
    from dynamodb_pitr_restore_cdc_spark.sources import table

    sim = {
        (r.doc_a, r.doc_b)
        for r in SPECS["q_llm_simhash_pairs"].builder(spark, sf_dir).collect()
    }
    mh = {
        (p.doc_a, p.doc_b)
        for p in SPECS["q_llm_near_dedup"].builder(spark, sf_dir).collect()
    }
    hashes = {
        r.doc_id: r.simhash
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", simhash64("text").alias("simhash"))
        .collect()
    }
    guaranteed = {p for p in mh if _hamming(hashes[p[0]], hashes[p[1]]) <= 3}
    assert guaranteed <= sim, f"guaranteed pairs missed: {guaranteed - sim}"
    assert mh and len(sim & mh) / len(mh) >= 0.6, (len(sim & mh), len(mh))


def test_kmeans_deterministic_and_total(spark, sf_dir):
    """Integer k-means must be bit-reproducible run-to-run (the whole
    point of the integer formulation) and partition all vectors."""
    import pandas as pd

    r1 = SPECS["q_llm_kmeans"].builder(spark, sf_dir).toPandas().sort_values("cid").reset_index(drop=True)
    r2 = SPECS["q_llm_kmeans"].builder(spark, sf_dir).toPandas().sort_values("cid").reset_index(drop=True)
    pd.testing.assert_frame_equal(r1, r2)
    total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert r1["n_members"].sum() == total
    assert len(r1) <= 8 and (r1["n_members"] > 0).all()


def test_dedup_clusters_consistent_with_pairs(spark, sf_dir):
    """Every near-dup pair must land in the same cluster, and every
    cluster id must be the min doc_id of its members."""
    pairs = SPECS["q_llm_near_dedup"].builder(spark, sf_dir).collect()
    clusters = {
        r.doc_id: r.cluster_id
        for r in SPECS["q_llm_dedup_clusters"].builder(spark, sf_dir).collect()
    }
    for p in pairs:
        assert clusters[p.doc_a] == clusters[p.doc_b], p
    by_cluster = {}
    for doc, cid in clusters.items():
        by_cluster.setdefault(cid, []).append(doc)
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_semantic_dedup_selection_invariants(spark, sf_dir):
    """The SemDeDup decision table must (a) cover every vector exactly
    once, (b) keep exactly one survivor per cluster (the min vec_id),
    (c) co-cluster every near-dup pair, and (d) report n_members
    consistent with the table itself."""
    rows = SPECS["q_llm_semantic_dedup"].builder(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == total and len({r.vec_id for r in rows}) == total
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.vec_id for m in members)
        keeps = [m for m in members if m.keep]
        assert len(keeps) == 1 and keeps[0].vec_id == cid
        assert all(m.n_members == len(members) for m in members)
    cluster_of = {r.vec_id: r.cluster_id for r in rows}
    for p in SPECS["q_llm_embed_neardup"].builder(spark, sf_dir).collect():
        assert cluster_of[p.vec_a] == cluster_of[p.vec_b], p


def test_exact_dedup_idempotent(spark, sf_dir):
    """Dedup of an already-deduped corpus is the identity."""
    once = SPECS["q_llm_exact_dedup"].builder(spark, sf_dir)
    assert once.count() == once.select("doc_id").distinct().count()


def test_embed_neardup_cell_restriction_is_the_only_loss(spark, sf_dir):
    """K-sweep property for the trained-quantizer IVF neardup: for ANY
    cell count K the result equals (brute-force pairs >= tau)
    restricted to co-assigned pairs, with exact scores — the cell
    bucketing can lose recall (documented IVF trade-off) but can never
    invent pairs, mis-score one, or miss a within-cell pair."""
    from dynamodb_pitr_restore_cdc_spark.llm.kmeans import assignment_ranking
    from dynamodb_pitr_restore_cdc_spark.llm.similarity import (
        NEARDUP_COS,
        embed_neardup_pairs,
        trained_quantizer,
    )
    from dynamodb_pitr_restore_cdc_spark.registry import release_persisted
    from dynamodb_pitr_restore_cdc_spark.sources import table

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").toPandas()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in e.itertuples()}
    ids = sorted(vecs)
    brute = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            va, vb = vecs[a], vecs[b]
            cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if cos >= NEARDUP_COS:
                brute[(a, b)] = round(cos, 4)

    seen_pair_sets = []
    for k in (4, 12):
        vectors, cents = trained_quantizer(spark, sf_dir, k=k)
        cell = {
            r.vec_id: r.cid
            for r in assignment_ranking(vectors, cents)
            .where(F.col("rn") == 1)
            .select("vec_id", "cid")
            .collect()
        }
        expected = {p: c for p, c in brute.items() if cell[p[0]] == cell[p[1]]}
        got = {
            (r.vec_a, r.vec_b): r.cos_sim
            for r in embed_neardup_pairs(spark, sf_dir, k=k).collect()
        }
        release_persisted()
        assert set(got) == set(expected), f"k={k}: pair set diverged from contract"
        for p in got:
            assert abs(got[p] - expected[p]) <= 1e-4, f"k={k}: score mismatch at {p}"
        assert set(got) <= set(brute)  # precision 1.0 at every K
        assert got, f"k={k}: zero recall at test SF"
        seen_pair_sets.append(set(got))
    # K changes WHICH cells exist, so the recalled SETS may differ —
    # but both must obey the same contract (asserted above); they are
    # not required to nest (k=12 centroids don't refine k=4's)


def test_repetition_topword_correct_and_subquadratic(spark):
    """The run-length-over-sorted top-word count must (a) equal the
    brute-force mode count on adversarial docs and (b) scale
    linearithmically with document LENGTH — a 4× longer all-distinct
    doc must cost far less than the 16× a quadratic form would."""
    import time

    topword = (
        "aggregate(array_sort(w),"
        " named_struct('prev', cast(null as string), 'run', 0, 'best', 0),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x <=> acc.prev, acc.run + 1, 1),"
        "   'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))),"
        " acc -> acc.best)"
    )

    # correctness on hand-built docs incl. runs at both ends + singleton
    docs = [
        ("a b c a a", 3),
        ("c a b a", 2),
        ("x x x", 3),
        ("solo", 1),
        ("b a b a b", 3),
        ("z z y y y z", 3),
    ]
    df = spark.createDataFrame([(t,) for t, _ in docs], ["text"]).select(
        F.split("text", " ").alias("w")
    )
    got = [r[0] for r in df.select(F.expr(topword)).collect()]
    assert got == [want for _, want in docs]

    def timed(n_words):
        # all-distinct words: the worst case for the old
        # O(distinct × len) expression, linearithmic for this one
        doc = " ".join(f"w{i}" for i in range(n_words))
        d = spark.createDataFrame([(doc,)], ["text"]).select(
            F.split("text", " ").alias("w")
        )
        d.select(F.expr(topword)).collect()  # warm
        t0 = time.perf_counter()
        for _ in range(3):
            assert d.select(F.expr(topword)).collect()[0][0] == 1
        return time.perf_counter() - t0

    t_small, t_big = timed(30_000), timed(120_000)
    # quadratic would be ~16x; allow generous noise headroom
    assert t_big / max(t_small, 1e-6) < 10, (t_small, t_big)


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    """Decontamination's pre-prune contract: every inserted key passes
    (no false negatives — pruning must never lose a real hit) and the
    false-positive rate at design load stays far under the point where
    pruning stops paying."""
    from dynamodb_pitr_restore_cdc_spark.llm.curation import (
        bloom_build,
        bloom_might_contain,
    )

    members = spark.range(20_000).selectExpr("concat('in-', id) AS gram")
    bf = F.broadcast(bloom_build(members))
    kept = members.join(bf).where(bloom_might_contain("gram")).count()
    assert kept == 20_000

    outsiders = spark.range(20_000).selectExpr("concat('out-', id) AS gram")
    fp = outsiders.join(bf).where(bloom_might_contain("gram")).count()
    assert fp / 20_000 < 0.02, fp


def test_paragraph_dedup_invariants(spark, sf_dir):
    """First-copy-wins at paragraph grain: (1) total kept blocks equals
    the number of DISTINCT blocks in the corpus; (2) the lowest-id
    document containing a block keeps it; (3) every doc's dedup_text is
    a subsequence reassembly (kept count matches the word arithmetic)."""
    from dynamodb_pitr_restore_cdc_spark.registry import all_queries

    res = all_queries()["q_llm_paragraph_dedup"].builder(spark, sf_dir)
    rows = res.collect()
    total_kept = sum(r.n_kept for r in rows)
    total_blocks = sum(r.n_blocks for r in rows)

    from dynamodb_pitr_restore_cdc_spark.llm.scrub import BLOCK_WORDS
    from dynamodb_pitr_restore_cdc_spark.sources import table

    d = table(spark, sf_dir, "documents")
    blocks = d.select(
        F.posexplode(
            F.expr(
                f"transform(sequence(0, int(ceil(size(split(text,' '))/{BLOCK_WORDS}.0))-1),"
                f" i -> array_join(slice(split(text,' '), i*{BLOCK_WORDS}+1, {BLOCK_WORDS}), ' '))"
            )
        ).alias("i", "b")
    )
    n_distinct = blocks.select("b").distinct().count()
    n_total = blocks.count()
    assert total_kept == n_distinct
    assert total_blocks == n_total
    # doc 0's first block can't have appeared earlier: it is kept
    first_doc = min(rows, key=lambda r: r.doc_id)
    assert first_doc.n_kept >= 1


def test_pq_compresses_and_approximates(spark, sf_dir):
    """PQ contract: (1) codes are within the codebook range (a byte's
    worth per subspace — the 64x compression claim); (2) every vector
    gets exactly M codes; (3) the ADC top-10 overlaps the EXACT integer
    squared-L2 top-10 (approximation quality at fixture scale); (4) the
    whole pipeline is deterministic across two runs (integer Lloyd)."""
    from dynamodb_pitr_restore_cdc_spark.llm.pq import (
        M_SUBSPACES,
        PQ_K,
        PROBE_VEC_ID,
        _pq_assign,
        _subvectors,
        pq_codebooks,
    )
    from dynamodb_pitr_restore_cdc_spark.llm.kmeans import _quantized, int_sq_dist
    from dynamodb_pitr_restore_cdc_spark.registry import all_queries

    sub = _subvectors(spark, sf_dir).localCheckpoint(eager=True)
    books = pq_codebooks(sub)
    codes = _pq_assign(sub, books).select("vec_id", "m", "cid")
    per_vec = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [M_SUBSPACES]
    rng = codes.agg(F.min("cid"), F.max("cid")).first()
    assert rng[0] >= 1 and rng[1] <= PQ_K

    # quality contracts that hold even on this worst-case corpus
    # (near-isotropic random vectors, where all pairwise distances
    # concentrate and top-10-recall is near-meaningless):
    # (a) Lloyd training strictly reduces total quantization error vs
    #     the init codebooks (monotone in exact integer arithmetic);
    init = sub.where(F.col("vec_id").between(1, PQ_K)).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv")
    )

    def total_err(cent):
        c2 = cent.select(
            F.col("m").alias("cm"), F.col("cid").alias("ccid"), "cv"
        )
        a = _pq_assign(sub, cent)
        return (
            a.join(c2, (a.m == c2.cm) & (a.cid == c2.ccid))
            .select(
                F.aggregate(
                    F.zip_with("sv", "cv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("e")
            )
            .agg(F.sum("e"))
            .first()[0]
        )

    assert total_err(books) < total_err(init)

    # (b) the ADC top-10's TRUE exact distances beat the corpus median
    #     — the compressed scores rank genuinely nearer vectors first
    top = all_queries()["q_llm_ann_pq"].builder(spark, sf_dir).collect()
    ids = [r.vec_id for r in top]
    q = _quantized(spark, sf_dir)
    probe = q.where(F.col("vec_id") == PROBE_VEC_ID).select(F.col("qv").alias("cv"))
    ex = (
        q.where(F.col("vec_id") != PROBE_VEC_ID)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", int_sq_dist().alias("d2"))
    )
    med = ex.agg(F.expr("percentile(d2, 0.5)")).first()[0]
    sel = ex.where(F.col("vec_id").isin(ids)).agg(F.mean("d2")).first()[0]
    assert sel < med, (sel, med)

    top2 = all_queries()["q_llm_ann_pq"].builder(spark, sf_dir).collect()
    assert [(r.vec_id, r.approx_d2) for r in top] == [
        (r.vec_id, r.approx_d2) for r in top2
    ]


def test_decontaminate_bloom_and_plain_paths_identical(spark, sf_dir):
    """The bloom pre-prune must be a pure optimization: forced-on and
    forced-off paths produce identical rows (no false negatives; the
    exact join removes false positives)."""
    from dynamodb_pitr_restore_cdc_spark.llm.curation import decontaminate

    plain = sorted(map(tuple, decontaminate(spark, sf_dir, use_bloom=False).collect()))
    bloomed = sorted(map(tuple, decontaminate(spark, sf_dir, use_bloom=True).collect()))
    assert plain == bloomed


def test_emb_quality_report_catches_planted_defects(spark):
    """Clean fixture yields all-zero metrics; plant one ragged, one
    zero, one NaN vector and a duplicated id — each check must fire
    with the exact count."""
    import os
    import tempfile

    import numpy as np
    import pandas as pd

    from dynamodb_pitr_restore_cdc_spark.llm.similarity import (
        q_emb_quality_report,
    )

    rows = [
        (1, [1.0, 2.0, 3.0], 0),
        (2, [0.5, 0.5, 0.5], 0),
        (2, [0.5, 0.5, 0.5], 0),       # duplicated id
        (3, [0.0, 0.0, 0.0], 1),       # zero vector
        (4, np.array([1.0, np.nan, 2.0], dtype="float32"), 1),  # true IEEE NaN
        (5, [1.0, None, 2.0], 1),      # NULL element (the pandas->arrow trap)
        (6, [1.0, 2.0], 1),            # ragged dimension
    ]
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    with tempfile.TemporaryDirectory() as d:
        pdf.to_parquet(os.path.join(d, "embeddings.parquet"))
        got = (
            q_emb_quality_report(spark, d)
            .toPandas()
            .set_index("check_name")["metric"]
            .to_dict()
        )
    assert got == {
        "dim_spread": 1,
        "zero_vectors": 1,
        "nan_vectors": 1,
        "null_elements": 1,
        "dup_vec_ids": 1,
    }


def test_token_budget_sample_is_a_hash_order_prefix(spark, sf_dir):
    """Per lang: the kept set must be exactly the (hash, doc_id)-order
    prefix whose cumulative tokens fit the budget — and the budget must
    actually discriminate at fixture scale (some kept, some dropped)."""
    from dynamodb_pitr_restore_cdc_spark.llm.curation import (
        SAMPLE_BUDGET_TOKENS,
        SPLIT_MULT,
    )

    rows = SPECS["q_llm_token_budget_sample"].builder(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: ((r.doc_id * SPLIT_MULT) % 2**32, r.doc_id))
        cum = 0
        for i, r in enumerate(rs, start=1):
            cum += r.n_tokens
            assert r.sample_rank == i
            assert r.cum_tokens == cum
            assert r.keep == (cum <= SAMPLE_BUDGET_TOKENS)
        kept = sum(r.keep for r in rs)
        assert 0 < kept < len(rs), (lang, kept, len(rs))


def test_connected_components_long_chain_converges(spark):
    """The finding the convergence raise + pointer jumping exist for: a
    chain of diameter 1000 (>> MAX_CC_ITERS) must still collapse to one
    component with the min id as its label — path compression makes the
    iteration count O(log diameter); before it, the loop exhausted the
    cap and silently returned non-minimal labels."""
    from dynamodb_pitr_restore_cdc_spark.llm.clusters import connected_components
    from dynamodb_pitr_restore_cdc_spark.registry import release_persisted

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], "src long, dst long"
    )
    labels = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    release_persisted()
    assert len(labels) == 1001
    assert set(labels.values()) == {0}


def test_incremental_manifest_equals_rebuild(spark, sf_dir, tmp_path):
    """The round-12 maintenance claim, executed both ways: the
    changefeed-incremental path (epoch-0 state + O(batch) epoch-1
    ingest + touched-language-only stage-7/8 recompute) must produce
    EXACTLY the manifest a from-scratch rebuild over the final corpus
    produces (frozen epoch-0 benchmark vocabulary on both sides).  The
    oracle hash proves the same against DuckDB; this test additionally
    pins the kept-rows path: languages untouched by the batch keep
    their standing manifest rows verbatim."""
    from dynamodb_pitr_restore_cdc_spark.llm import manifest_maintenance as mm
    from dynamodb_pitr_restore_cdc_spark.llm.curation import (
        VALID_PERMILLE,
        five_grams,
        quality_exact_dedup,
        split_bucket,
    )
    from dynamodb_pitr_restore_cdc_spark.llm.index_maintenance import LshIndex
    from dynamodb_pitr_restore_cdc_spark.registry import (
        release_persisted,
        tracked_persist,
    )
    from dynamodb_pitr_restore_cdc_spark.sources import table

    raw = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    cut = raw.agg((F.max("doc_id") * 3).cast("long")).first()[0] // 4
    # same language-scoped crawl batch as the registered fixture
    docs = raw.where(
        (F.col("doc_id") <= cut) | F.col("lang").isin(*mm.BATCH_LANGS)
    )
    incr = sorted(
        map(
            tuple,
            mm.incremental_manifest(
                spark, docs, cut, str(tmp_path / "t_incr")
            ).collect(),
        )
    )
    assert incr, "fixture produced an empty manifest"

    # from-scratch rebuild over the FINAL corpus, frozen epoch-0 bench
    dedup_all = tracked_persist(quality_exact_dedup(docs))
    idx = LshIndex(spark, str(tmp_path / "t_full"))
    idx.init(dedup_all.select("doc_id", "text"))
    drops = (
        idx.pairs(dedup_all.select("doc_id", "text"))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    survivors = dedup_all.join(drops, "doc_id", "left_anti")
    bench = (
        five_grams(
            docs.where(
                (F.col("doc_id") <= cut)
                & (split_bucket(F.col("doc_id")) >= VALID_PERMILLE)
            )
        )
        .select("gram")
        .distinct()
    )
    rebuilt = sorted(
        map(
            tuple,
            mm.budget_and_pack(mm.stage_4to6_delta(survivors, bench)).collect(),
        )
    )
    assert incr == rebuilt
    # the batch must actually touch something AND leave something
    # untouched, or the kept-rows branch was never exercised
    langs = {r[0] for r in incr}
    e1_langs = {
        r.lang
        for r in docs.where(F.col("doc_id") > cut)
        .select("lang")
        .distinct()
        .collect()
    }
    assert e1_langs and langs - e1_langs, (langs, e1_langs)
    assert e1_langs <= set(mm.BATCH_LANGS)
    release_persisted()  # both lanes persisted sf-scale text frames


def test_manifest_tail_is_the_capstone_tail():
    """The r12 divergence guard (byte-equality of two verbatim mirror
    implementations) is retired: round 13 folded the manifest tails
    INTO corpus_build — one implementation, so drift is now impossible
    by identity, which this asserts."""
    from dynamodb_pitr_restore_cdc_spark.llm import (
        corpus_build as cb,
        manifest_maintenance as mm,
    )

    assert mm.budget_and_pack is cb.budget_and_pack
    assert mm.stage_4to6_delta is cb.stage_4to6_delta


def test_mix_rate_accepts_name_and_column(spark):
    """mix_rate must take either a column NAME or a Column, exactly
    like its sibling sample_bucket (round-12 advice: the old
    F.expr(f"substring({arg}, 4)") interpolation garbled a Column
    argument), and both forms must equal the oracle's _RATE_SQL."""
    from dynamodb_pitr_restore_cdc_spark.llm.curation import mix_rate

    df = spark.createDataFrame(
        [("src0",), ("src5",), ("src12",), ("src999",)], ["source"]
    )
    by_name = [r[0] for r in df.select(mix_rate("source")).collect()]
    by_col = [r[0] for r in df.select(mix_rate(F.col("source"))).collect()]
    sql = [
        r[0]
        for r in df.selectExpr(
            "(100 + (CAST(substr(source, 4) AS BIGINT) * 97) % 800)"
        ).collect()
    ]
    assert by_name == by_col == sql


def test_r15_split_bucket_overflow_obligation(spark):
    """Round-14 deferral with a code-enforced obligation (the
    test_r13_registration_obligation pattern): curation.split_bucket
    computes doc_id * 2654435761, which ANSI-overflows int64 past
    doc_id ~= 3.47e9 — a real wall for a >=5-billion-document corpus
    (found by the 1000x corpus_scale_probe; its SHIFT now dodges it).
    The overflow-safe reformulation (reduce doc_id mod 2^32 FIRST,
    then multiply in two 16-bit halves so every intermediate stays
    under 2^48 — identical values for doc_id < 2^32, so every oracle
    and driver hash is unchanged) touches machinery executed by ~10
    registered queries across three evidence cohorts; the r14 window
    is exactly full, so the fix is DEFERRED to round 15, whose window
    math affords the seeds: 43 age-5 r10 rotations + 7 seeds
    (q_llm_decontaminate, q_llm_contamination_report,
    q_llm_leakage_audit, q_stream_decontaminate, q_llm_corpus_build,
    q_stream_corpus_build, q_llm_pack_manifest_incremental) = 50.
    Round 15 landed the fix; the checks stay unconditional so the
    overflow wall cannot come back."""
    import dynamodb_pitr_restore_cdc_spark.registry as R
    from dynamodb_pitr_restore_cdc_spark.llm.curation import (
        SPLIT_MULT,
        split_bucket,
    )

    R.all_queries()
    big = 6_000_000_000  # past the 3.47e9 int64 overflow wall
    expected = ((big % 2**32) * SPLIT_MULT % 2**32) % 1000
    got = (
        spark.range(1)
        .select(split_bucket(F.lit(big).cast("long")).alias("b"))
        .first()
        .b
    )  # ANSI overflow raises here on the unfixed formulation
    assert got == expected
    # and the fixture domain is bit-identical to the published oracle
    # formula, so no driver hash moves
    small = spark.range(0, 100_000, 997).select(
        F.col("id").alias("doc_id"), split_bucket(F.col("id")).alias("b")
    )
    for r in small.collect():
        assert r.b == (r.doc_id * SPLIT_MULT % 2**32) % 1000


def test_simhash_oracle_covers_shingleless_docs(spark, tmp_path):
    """Round-14 review finding: _shingle_hashes falls back to the
    singleton {0} for a document with fewer than 3 tokens, so the
    Spark side emits a (sentinel) hash row for EVERY document — the
    DuckDB sketch CTEs must too (the sh CTE alone drops such docs),
    and two shingle-less docs must pair at hamming 0 in BOTH engines."""
    import duckdb
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["only two", "only two", "three token document words here ok"],
            "lang": ["en"] * 3,
            "source": ["src0"] * 3,
            "n_chars": [8, 8, 35],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet", index=False)
    for name in ("q_llm_simhash", "q_llm_simhash_pairs"):
        spec = SPECS[name]
        sdf = spec.builder(spark, sf).toPandas()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        odf = con.execute(spec.oracle).fetchdf()
        cols = sorted(sdf.columns)
        s = sorted(map(tuple, sdf[cols].values.tolist()))
        o = sorted(map(tuple, odf[cols].values.tolist()))
        assert s == o, (name, s, o)
    # the two 2-token docs carry the sentinel hash and pair at 0
    pairs = SPECS["q_llm_simhash_pairs"].builder(spark, sf).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(0, 1, 0)]


def test_simhash_oracle_ascii_precondition():
    """Round-14 advice: the DuckDB simhash oracle folds crc32 over
    ord(char), which equals zlib.crc32's UTF-8 byte only for ASCII —
    a non-ASCII document would silently diverge from the Spark UDF.
    Check the precondition over every fixture SF instead of assuming
    it: if a future fixture generator emits non-ASCII text, this
    fails loudly and the oracle must switch to folding over
    encode()'d byte lists."""
    import glob
    import os

    import duckdb

    sfs = sorted(glob.glob("/root/testdata/sf*/documents.parquet"))
    assert sfs, "no fixture SFs found"
    con = duckdb.connect()
    for p in sfs:
        # chars == bytes ⟺ pure ASCII (any multi-byte UTF-8 char makes
        # strlen exceed length)
        (n_bad,) = con.execute(
            "SELECT count(*) FROM read_parquet(?) "
            "WHERE length(text) != strlen(text)",
            [p],
        ).fetchone()
        assert n_bad == 0, (
            f"{os.path.dirname(p)}: {n_bad} non-ASCII documents — the "
            "ord()-based crc32 fold in _SIMHASH_SKETCH_CTES no longer "
            "matches zlib.crc32 over UTF-8 bytes"
        )


def _tie_corpus(src_dir: str, dst) -> str:
    """The fixture embeddings with planted exact ties: vec 2 := vec 1
    and vec 5 := vec 3 (two pairs of identical SEEDS, so cells 2 and 5
    tie cells 1 and 3 on every distance and lose on cid), and vecs
    100-149 := vec 1 (a block of identical members)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{src_dir}/embeddings.parquet")
    emb = dict(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))
    copy_of = {2: 1, 5: 3, **{i: 1 for i in range(100, 150)}}
    col = [emb[copy_of.get(v, v)] for v in t.column("vec_id").to_pylist()]
    i = t.schema.get_field_index("embedding")
    t = t.set_column(i, t.schema.field(i), pa.array(col, type=t.schema.field(i).type))
    dst.mkdir()
    pq.write_table(t, str(dst / "embeddings.parquet"))
    return str(dst)


def test_quantizer_is_exact_under_planted_ties(spark, tmp_path):
    """Exact-tie property of the nearest-cell kernel: with identical
    seeds and identical members the (d2, cid) tie-break must pick the
    same cells as the DuckDB Lloyd unroll, so the trained centroids
    equal the oracle's c{IVF_TRAIN_ITERS} rows exactly — cells 2 and 5
    lose every tie and vanish (K 23 -> 21 at sf0.01) — and
    q_llm_ann_ivf still matches its oracle. Same at sf0.001 for the
    K-sweep values k=4 (cell 5 is no seed) and k=12."""
    import duckdb

    from dynamodb_pitr_restore_cdc_spark.llm.kmeans import (
        assignment_ranking,
        lloyd_oracle_ctes,
    )
    from dynamodb_pitr_restore_cdc_spark.llm.similarity import (
        IVF_TRAIN_ITERS,
        _ivf_oracle_prefix,
        trained_quantizer,
    )
    from dynamodb_pitr_restore_cdc_spark.registry import release_persisted

    from .conftest import SF_SMOKE
    from .parity import assert_parity

    def oracle(d, sql):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet')"
        )
        return con.execute(sql).fetchdf()

    def check(d, k, prefix, want_k):
        vectors, cents = trained_quantizer(spark, d, k=k)
        got = sorted((r.cid, list(r.cv)) for r in cents.collect())
        want = oracle(d, f"WITH {prefix} SELECT cid, cv FROM c{IVF_TRAIN_ITERS}")
        assert got == sorted((int(c), [int(x) for x in v]) for c, v in want.values)
        assert len(got) == want_k and {2, 5}.isdisjoint(c for c, _ in got)
        asg = {
            (r.vec_id, r.cid)
            for r in assignment_ranking(vectors, cents).where("rn = 1").collect()
        }
        want_asg = oracle(d, f"WITH {prefix} SELECT vec_id, cid FROM asg")
        assert asg == {(int(v), int(c)) for v, c in want_asg.values}
        release_persisted()

    d01 = _tie_corpus(os.path.join(os.path.dirname(SF_SMOKE), "sf0.01"), tmp_path / "sf01")
    check(d01, None, _ivf_oracle_prefix(), 21)
    spec = SPECS["q_llm_ann_ivf"]
    assert_parity(spec.builder(spark, d01), oracle(d01, spec.oracle), "q_llm_ann_ivf")

    d001 = _tie_corpus(SF_SMOKE, tmp_path / "sf001")
    for k, want_k in ((4, 3), (12, 10)):
        check(d001, k, lloyd_oracle_ctes(str(k), IVF_TRAIN_ITERS), want_k)


def test_pq_is_exact_under_planted_ties(spark, tmp_path):
    """Exact-tie property of the PQ kernel (one cell set per subspace):
    with duplicated seed subvectors (vec 2 := vec 1, vec 5 := vec 3 in
    every subspace) and a block of identical members, the (d2, cid)
    tie-break must pick the same codewords as the DuckDB
    _pq_oracle_ctes chain — codebooks equal its c{PQ_ITERS} rows, codes
    equal its enc rows, codewords 2 and 5 vanish in every subspace —
    and q_llm_ann_pq still matches its oracle."""
    import duckdb

    from dynamodb_pitr_restore_cdc_spark.llm.pq import (
        PQ_ITERS,
        _pq_assign,
        _pq_oracle_ctes,
        _subvectors,
        pq_codebooks,
    )

    from .conftest import SF_SMOKE
    from .parity import assert_parity

    d = _tie_corpus(SF_SMOKE, tmp_path / "sf001")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{d}/embeddings.parquet')"
    )
    sub = _subvectors(spark, d).localCheckpoint(eager=True)
    books = pq_codebooks(sub)
    got = sorted((r.m, r.cid, list(r.cv)) for r in books.collect())
    want = con.execute(
        f"WITH {_pq_oracle_ctes()} SELECT m, cid, cv FROM c{PQ_ITERS}"
    ).fetchall()
    assert got == sorted((int(m), int(c), [int(x) for x in v]) for m, c, v in want)
    assert {2, 5}.isdisjoint(c for _, c, _ in got)
    codes = {
        tuple(r) for r in _pq_assign(sub, books).select("vec_id", "m", "cid").collect()
    }
    want_codes = con.execute(
        f"WITH {_pq_oracle_ctes()} SELECT vec_id, m, cid FROM enc"
    ).fetchall()
    assert codes == {tuple(int(x) for x in r) for r in want_codes}
    spec = SPECS["q_llm_ann_pq"]
    assert_parity(spec.builder(spark, d), con.execute(spec.oracle).fetchdf(), "q_llm_ann_pq")


def test_nearest_cell_kernel_is_exact_and_overflow_is_loud(spark):
    """The kernel's |x|² − 2·x·Cᵀ + |c|² is exact int64 up to the
    largest magnitudes its guard admits (checked against Python
    integers), and past the guard it raises instead of wrapping: numpy
    int64 wraps silently where Spark's ANSI arithmetic raised. One
    component near 1e9 must fail the query, not return a cell."""
    import pytest

    from dynamodb_pitr_restore_cdc_spark.llm.kmeans import (
        CellMatrix,
        assignment_ranking,
        nearest_cell,
    )

    rng = np.random.default_rng(5)
    cells = [(c, rng.integers(-10**6, 10**6, 64).tolist()) for c in range(1, 9)]
    cm = CellMatrix(cells)
    x = rng.integers(-3 * 10**8, 3 * 10**8, (20, 64))
    want = [
        [sum((a - b) ** 2 for a, b in zip(row, cv)) for _, cv in cells]
        for row in x.tolist()
    ]
    assert cm.sq_dists(x).tolist() == want

    big = [0] * 64
    big[7] = 10**9
    with pytest.raises(ArithmeticError):
        cm.sq_dists(np.array([big]))
    frame = spark.createDataFrame([(1, big)], "vec_id bigint, qv array<bigint>")
    with pytest.raises(Exception, match="ArithmeticError"):
        frame.select(nearest_cell(cells)).collect()
    with pytest.raises(Exception, match="ArithmeticError"):
        assignment_ranking(frame, cells).collect()
