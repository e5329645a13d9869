"""Semantics tests for dedup/similarity operators (parity vs DuckDB is
covered by test_warehouse_queries.py's registry sweep; these check the
operator-level invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from luma_etl_data_platform_spark.operators import dedup as D
from luma_etl_data_platform_spark.operators import similarity as S
from luma_etl_data_platform_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_exact_dedup_finds_planted_dup(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "The  cat sat on the MAT!"),   # same after normalization
         (3, "something else entirely here")],
        ["doc_id", "text"],
    )
    groups = D.exact_dedup_groups(df, "text", "doc_id").collect()
    by_rep = {r["rep_id"]: r["n_dups"] for r in groups}
    assert by_rep == {1: 2, 3: 1}


def test_lsh_pairs_subset_of_exact_jaccard(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {(r["id_a"], r["id_b"])
             for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in D.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5).collect()}
    assert lsh <= exact          # LSH never invents pairs (verified stage)
    assert len(exact) > 0        # the corpus has planted near-dups
    assert len(lsh) >= len(exact) * 0.7   # b=4,r=4 recall at j>=0.9 is ~0.99


def test_simhash_pairs_overlap_jaccard_pairs(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {(r["id_a"], r["id_b"])
             for r in D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.9).collect()}
    sim3 = {(r["id_a"], r["id_b"])
            for r in D.simhash_pairs(docs, "text", "doc_id", max_hamming=3).collect()}
    sim4 = {(r["id_a"], r["id_b"])
            for r in D.simhash_pairs(docs, "text", "doc_id", max_hamming=4).collect()}
    # The 64-bit sketch at hamming<=3 requires 61/64 bit agreement —
    # a tighter cut than the old 32-bit/3 one, so expect ~half of the
    # j>=0.9 pairs at 3 and most at 4. Precision should be perfect:
    # simhash never invents a pair the jaccard join doesn't confirm.
    assert len(exact & sim3) >= len(exact) * 0.4
    assert len(exact & sim4) >= len(exact) * 0.7
    assert sim4 <= exact


def test_cosine_topk_self_excluded_and_sorted(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    top = S.cosine_topk(emb.filter(F.col("vec_id") != 0), q, k=5).collect()
    assert len(top) == 5
    scores = [r["score"] for r in top]
    assert scores == sorted(scores, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in scores)


def test_batch_cosine_topk_matches_single_query(spark):
    # the batched scan must reproduce per-query brute force exactly
    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = (emb.select(F.col("vec_id").alias("query_id"), "embedding")
               .orderBy("query_id").limit(3))
    batch = S.batch_cosine_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    assert set(by_q) == {0, 1, 2}
    for qid, got in by_q.items():
        q = emb.filter(F.col("vec_id") == qid)
        single = S.cosine_topk(emb.filter(F.col("vec_id") != qid), q, k=5)
        assert got == [(r["vec_id"], r["score"]) for r in single.collect()]


def test_ivf_probes_restrict_search(spark):
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    brute = {r["vec_id"]: r["score"] for r in S.cosine_topk(emb, q, k=50).collect()}
    ivf = {r["vec_id"]: r["score"] for r in S.ivf_topk(emb, q, k=50, nprobe=10).collect()}
    # with nprobe = all clusters, IVF == brute force
    assert ivf == brute


def test_df_cap_drops_stop_shingles(spark):
    df = spark.createDataFrame(
        [(i, "common shingle here unique%d tail words" % i) for i in range(5)],
        ["doc_id", "text"],
    )
    uncapped = D.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.01)
    capped = D.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.01, df_cap=3)
    assert capped.count() <= uncapped.count()


def test_semantic_dedup_conserves_and_drops_planted_dup(spark):
    from luma_etl_data_platform_spark.operators.similarity import (
        semantic_dedup_summary,
    )
    from luma_etl_data_platform_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    # plant an exact duplicate of the min-id vector under a fresh id
    probe = emb.orderBy("vec_id").limit(1)
    big_id = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    dup = probe.select((F.lit(big_id)).alias("vec_id"), "embedding", "label")
    with_dup = emb.unionByName(dup)

    summary = semantic_dedup_summary(with_dup, k=4, threshold=0.30)
    rows = summary.collect()
    n = with_dup.count()
    assert sum(r["n_vecs"] for r in rows) == n          # partition of corpus
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_vecs"]
    # the planted exact duplicate (cos = 1) must be dropped: total kept
    # strictly below corpus size
    assert sum(r["n_kept"] for r in rows) < n
    # invariant to input partitioning
    s2 = semantic_dedup_summary(with_dup.repartition(7), k=4, threshold=0.30)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, s2.collect()))


def test_prefix_jaccard_matches_plain_inverted_index(spark):
    """Prefix filtering is lossless: identical verified pairs to the
    full inverted-index join, from a strictly smaller candidate set."""
    from luma_etl_data_platform_spark.operators import dedup as D
    from luma_etl_data_platform_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE
    docs = load_table(spark, SF_SMOKE, "documents")
    plain = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
             D.ngram_jaccard_pairs(docs, "text", "doc_id",
                                   threshold=0.5).collect()}
    pref = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            D.prefix_filter_jaccard_pairs(docs, "text", "doc_id",
                                          threshold=0.5).collect()}
    assert pref == plain and plain


def test_ppjoin_filters_prune_and_preserve(spark):
    """The two PPJoin prunes in _prefix_candidates are active AND
    lossless: a size-incompatible pair and an overlap-infeasible pair
    sharing prefix shingles are dropped BEFORE verification, while a
    true pair at J >= t always survives the candidate stage."""
    from pyspark.sql import Row
    from luma_etl_data_platform_spark.operators.dedup import (
        _prefix_candidates)

    def idx_of(doc_shingles):  # {_id: [shingle ints]}
        rows = [Row(_id=d, h1=s, h2=s)
                for d, ss in doc_shingles.items() for s in ss]
        return spark.createDataFrame(rows)

    def cands(doc_shingles, t=0.5):
        return {(r["id_a"], r["id_b"]) for r in
                _prefix_candidates(idx_of(doc_shingles), t).collect()}

    # LENGTH filter: X (4 shingles) and Y (20) share their globally
    # rarest shingle 1 inside both prefixes, but 4 < 0.5*20 — the
    # pair must never reach verification (true J = 1/23 << 0.5)
    case_a = {1: [1, 90, 91, 92], 2: [1] + list(range(10, 29))}
    for f in (101, 102, 103, 104):
        case_a[f] = [90, 91, 92]            # df(90..92)=5 > df(1)=2
    for f in (111, 112, 113):
        case_a[f] = list(range(10, 29))     # df(10..28)=4
    assert (1, 2) not in cands(case_a)

    # POSITIONAL filter: P and Q (10 shingles each — length passes)
    # share only shingle 7, ranked LAST in both prefixes (position 6
    # of 6): overlap bound = min(10-6, 10-6)+1 = 5 < required
    # ceil(0.5*20/1.5) = 7 — pruned (true J = 5/15 < 0.5)
    case_b = {1: [1, 2, 3, 4, 5, 7, 50, 51, 52, 53],
              2: [21, 22, 23, 24, 25, 7, 50, 51, 52, 53]}
    for f in range(201, 209):
        case_b[f] = [50, 51, 52, 53]        # df(50..53)=10 >> df(7)=2
    assert (1, 2) not in cands(case_b)

    # losslessness: an exact-duplicate pair always survives
    case_c = {1: [1, 2, 3, 4, 5, 6], 2: [1, 2, 3, 4, 5, 6]}
    assert (1, 2) in cands(case_c)


def test_incremental_minhash_equals_full_filtered(spark):
    # the defining property: incremental(new batch) == full-corpus
    # pairs restricted to pairs touching the batch
    from pyspark.sql import functions as F
    from luma_etl_data_platform_spark.operators.dedup import (
        incremental_minhash_pairs, minhash_lsh_pairs)
    from luma_etl_data_platform_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE
    docs = load_table(spark, SF_SMOKE, "documents")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    inc = sorted(tuple(r) for r in incremental_minhash_pairs(
        old, new, "text", "doc_id").collect())
    full = sorted(
        tuple(r) for r in
        minhash_lsh_pairs(docs, "text", "doc_id", n=3, num_hashes=16,
                          bands=4, threshold=0.5)
        .filter((F.col("id_a") % 3 == 0) | (F.col("id_b") % 3 == 0))
        .collect())
    assert inc == full


# ------------------------------------------------------------------ PQ


def _pq_corpus(spark, n=24, dim=8):
    """Deterministic tiny corpus: vec_id i -> components derived from
    i (micro-unit-exact values so quantization is trivially exact)."""
    rows = [(i, [float((i * 7 + j * 3) % 11) / 10.0 for j in range(dim)])
            for i in range(1, n + 1)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_codebook_is_deterministic_and_shaped(spark):
    from luma_etl_data_platform_spark.operators import pq as PQ
    df = _pq_corpus(spark)
    b1 = PQ.pq_codebook_df(spark, df, dim=8, m_sub=2, k_codes=4)
    b2 = PQ.pq_codebook_df(spark, df, dim=8, m_sub=2, k_codes=4)
    r1 = sorted((r["m"], r["code"], tuple(r["sub"])) for r in b1.collect())
    r2 = sorted((r["m"], r["code"], tuple(r["sub"])) for r in b2.collect())
    assert r1 == r2
    assert len(r1) == 2 * 4
    assert all(len(sub) == 4 for _, _, sub in r1)


def test_pq_seed_query_has_zero_adc_distance(spark):
    """A query identical to a codebook seed must rank that seed's
    clones at ADC distance 0: the seed row encodes to its own
    sub-vectors (d2 = 0 per subspace) and the query's distance to
    those entries is 0."""
    from luma_etl_data_platform_spark.operators import pq as PQ
    from luma_etl_data_platform_spark.functions.text import portable_hash32
    df = _pq_corpus(spark)
    # find the rank-0 seed (smallest portable hash) like the operator
    seed_id = (df.select("vec_id")
               .withColumn("_h", portable_hash32(F.col("vec_id")))
               .orderBy("_h", "vec_id").limit(1).collect()[0]["vec_id"])
    query = df.filter(F.col("vec_id") == seed_id)
    top = PQ.pq_topk(df, query, k=3, dim=8, m_sub=2, k_codes=4).collect()
    assert top[0]["vec_id"] == seed_id or top[0]["adc_dist"] == 0
    assert top[0]["adc_dist"] == 0


def test_pq_topk_empty_query_or_codebook_is_empty(spark):
    """No query (or no codebook entry) means no ADC distance: the
    result is empty, not every corpus row at adc_dist 0 with code -1."""
    from luma_etl_data_platform_spark.operators import pq as PQ
    df = _pq_corpus(spark)
    no_query = df.filter(F.col("vec_id") < 0)
    for codebook in ("seeded", "trained"):
        assert PQ.pq_topk(df, no_query, k=5, dim=8, m_sub=2, k_codes=4,
                          codebook=codebook).collect() == []
    one = df.filter(F.col("vec_id") == 1)
    for codebook in ("seeded", "trained"):
        assert PQ.pq_topk(df, one, k=5, dim=8, m_sub=2, k_codes=0,
                          codebook=codebook).collect() == []
    assert len(PQ.pq_topk(df, one, k=5, dim=8, m_sub=2, k_codes=4).collect()) == 5


def test_pq_topk_order_and_tiebreak(spark):
    from luma_etl_data_platform_spark.operators import pq as PQ
    df = _pq_corpus(spark)
    query = df.filter(F.col("vec_id") == 1)
    top = PQ.pq_topk(df, query, k=10, dim=8, m_sub=2, k_codes=4).collect()
    dists = [r["adc_dist"] for r in top]
    assert dists == sorted(dists)
    # ties must be vec_id-ascending
    for a, b in zip(top, top[1:]):
        if a["adc_dist"] == b["adc_dist"]:
            assert a["vec_id"] < b["vec_id"]
    # codes are m_sub dash-joined small ints
    assert all(len(r["codes"].split("-")) == 2 for r in top)
    assert all(0 <= int(c) < 4 for r in top for c in r["codes"].split("-"))


# ----------------------------------------------------------------- MMR


def test_mmr_demotes_near_duplicates(spark):
    """Corpus: q's best match twice (exact duplicate) + an orthogonal-
    ish doc. Pure top-2 returns the duplicate pair; MMR's second pick
    must be the diverse doc."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),   # best match
        (2, [1.0, 0.0, 0.0, 0.0]),   # its exact duplicate
        (3, [0.5, 0.8, 0.0, 0.0]),   # relevant but diverse
        (4, [0.0, 0.0, 1.0, 0.0]),   # irrelevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = spark.createDataFrame([(0, [1.0, 0.1, 0.0, 0.0])],
                                  "vec_id long, embedding array<double>")
    top2 = [r["vec_id"] for r in
            S.cosine_topk(df, query.select("embedding"), k=2).collect()]
    assert top2 == [1, 2]
    mmr = S.mmr_topk(df, query.select("embedding"), k=2, pool=4,
                     lam=0.5).collect()
    assert [r["vec_id"] for r in mmr] == [1, 3]
    assert [r["rnk"] for r in mmr] == [1, 2]
    # scores strictly ordered by selection round here
    assert mmr[0]["mmr_score"] > mmr[1]["mmr_score"]


def test_mmr_rank1_is_pure_relevance_argmax(spark):
    """Round 1 has an empty selected set: the first pick must equal
    the plain cosine argmax, id-tiebroken."""
    rows = [(i, [float(i % 3 + 1), float(i % 5), 1.0]) for i in range(1, 9)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = spark.createDataFrame([([1.0, 0.0, 1.0],)],
                                  "embedding array<double>")
    best = S.cosine_topk(df, query, k=1).collect()[0]
    mmr = S.mmr_topk(df, query, k=3, pool=8).collect()
    assert mmr[0]["vec_id"] == best["vec_id"]


def test_mmr_is_id_type_agnostic(spark):
    """String doc ids flow through: the result schema follows the
    corpus id column's type instead of hardcoding long."""
    rows = [("doc-a", [1.0, 0.0]), ("doc-b", [1.0, 0.0]),
            ("doc-c", [0.0, 1.0])]
    df = spark.createDataFrame(
        rows, "doc_id string, embedding array<double>")
    query = spark.createDataFrame([([1.0, 0.2],)],
                                  "embedding array<double>")
    mmr = S.mmr_topk(df, query, k=2, pool=3, lam=0.5,
                     id_col="doc_id")
    assert dict(mmr.dtypes)["doc_id"] == "string"
    got = [r["doc_id"] for r in mmr.collect()]
    assert got[0] == "doc-a" and got[1] == "doc-c"
