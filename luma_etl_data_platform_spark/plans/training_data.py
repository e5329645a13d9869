"""Training-data pipeline queries over the documents/embeddings tables:
dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash), similarity
search (brute-force + IVF), and text analysis — each paired with a
DuckDB oracle that reproduces the identical result, including the
probabilistic LSH candidate sets (both engines evaluate the same
portable md5-based hashes, so even recall misses match exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.localframe import local_frame
from ..core.session import thread_target
from ..functions import text as X
from ..operators import dedup as D
from ..operators import similarity as S
from ..sources.tables import load_table

ORACLE: dict[str, str] = {}

# Shared oracle CTE fragments (kept verbatim-identical across queries).
# ``hs`` mirrors operators/dedup._shingle_index: each distinct shingle
# represented by the two 32-bit halves of its md5.
_SH_CTE = """
tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents),
pos AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t)-2, 0))) AS i FROM tok),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s FROM pos),
hs AS (SELECT doc_id,
              CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h1,
              CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS h2
       FROM sh),
sz AS (SELECT doc_id, count(*) AS n FROM hs GROUP BY 1)
"""

_EMB_CTE = """
e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings))
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    # 6-dp ratios through the exact-integer micro trick (one 0-dp
    # round of an int/int quotient) — a 128-token doc with an odd
    # stopword count lands EXACTLY on a 6-dp half-way, where
    # round(x, 6) is engine-divergent (the r9 sf0.1-tier bug class);
    # this query is in the driver's correctness sample.
    # Tokenize ONCE: `_t` is a multiply-referenced non-cheap alias, so
    # CollapseProject keeps the projection and the regex tokenization
    # runs once per row (the helper-per-column form re-tokenized ~7x).
    base = docs.select("doc_id", X.tokens(c).alias("_t"))
    t = F.col("_t")
    wc = F.size(t)
    sw = F.size(F.filter(t, lambda x: x.isin(*X.STOPWORDS)))
    chars = F.aggregate(F.transform(t, F.length), F.lit(0),
                        lambda acc, x: acc + x)
    M = F.lit(1_000_000.0)
    stop = F.when(wc > 0, F.round(sw.cast("double") * M
                                  / wc.cast("double")) / M) \
        .otherwise(F.lit(0.0))
    atl = F.when(wc > 0, F.round(chars.cast("double") * M
                                 / wc.cast("double")) / M) \
        .otherwise(F.lit(0.0))
    num = ((F.least(wc, F.lit(100)).cast("long") * wc * 8
            + sw.cast("long") * 400
            + F.least(chars, wc * 8).cast("long") * 50)
           * F.lit(1_000_000))
    qual = F.when(wc > 0, F.round(num.cast("double")
                                  / (wc.cast("double") * 1600.0)) / M) \
        .otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        wc.alias("n_tokens"),
        stop.alias("stop_ratio"),
        atl.alias("avg_tok_len"),
        qual.alias("quality"),
    )


ORACLE["text_quality_stats"] = """
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents),
m AS (SELECT doc_id, len(t) AS wc,
             len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it'))) AS sw,
             list_aggregate(list_transform(t, x -> len(x)), 'sum') AS chars
      FROM tok)
SELECT doc_id,
       wc AS n_tokens,
       CASE WHEN wc > 0
            THEN round(sw * 1000000.0 / wc) / 1000000.0
            ELSE 0.0 END AS stop_ratio,
       CASE WHEN wc > 0
            THEN round(chars * 1000000.0 / wc) / 1000000.0
            ELSE 0.0 END AS avg_tok_len,
       CASE WHEN wc > 0
            THEN round((8 * least(wc, 100) * wc + 400 * sw
                        + 50 * least(chars, 8 * wc)) * 1000000.0
                       / (1600.0 * wc)) / 1000000.0
            ELSE 0.0 END AS quality
FROM m
"""


def text_lang_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        X.lang_id(c).alias("lang_guess"),
        X.fingerprint(c).alias("fp"),
    )


ORACLE["text_lang_fingerprint"] = """
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents),
m AS (SELECT doc_id, t,
             len(list_filter(t, x -> x IN ('the','a','of','and','to'))) AS c_en,
             len(list_filter(t, x -> x IN ('el','la','de','y','que')))  AS c_es,
             len(list_filter(t, x -> x IN ('le','la','de','et','que'))) AS c_fr
      FROM tok)
SELECT doc_id,
       CASE WHEN c_en >= c_es AND c_en >= c_fr AND c_en > 0 THEN 'en'
            WHEN c_es >= c_fr AND c_es > 0 THEN 'es'
            WHEN c_fr > 0 THEN 'fr'
            ELSE 'und' END AS lang_guess,
       md5(array_to_string(t, ' ')) AS fp
FROM m
"""


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup_groups(docs, "text", "doc_id")


ORACLE["dedup_exact_docs"] = """
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t FROM documents)
SELECT md5(array_to_string(t, ' ')) AS fp,
       min(doc_id) AS rep_id, count(*) AS n_dups
FROM tok GROUP BY 1
"""


_NGRAM_DF_CAP = 20  # drop shingles appearing in more docs: stop-shingles
                    # add candidates, not information — and an uncapped
                    # hot shingle makes the self-join quadratic in its
                    # document frequency.


def dedup_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.5,
                                 df_cap=_NGRAM_DF_CAP)


# capped variant of the shared CTE: hsc = hs minus stop-shingles, and
# per-doc sizes are computed AFTER the cap (mirrors _shingle_index).
ORACLE["dedup_ngram_pairs"] = f"""
WITH {_SH_CTE},
hot AS (SELECT h1, h2 FROM hs GROUP BY 1, 2 HAVING count(*) > {_NGRAM_DF_CAP}),
hsc AS (SELECT hs.* FROM hs ANTI JOIN hot USING (h1, h2)),
szc AS (SELECT doc_id, count(*) AS n FROM hsc GROUP BY 1),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM hsc a JOIN hsc b
             ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT id_a, id_b, round(c / (x.n + y.n - c), 6) AS jaccard
FROM common JOIN szc x ON id_a = x.doc_id JOIN szc y ON id_b = y.doc_id
WHERE round(c / (x.n + y.n - c), 6) >= 0.5
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "text", "doc_id",
                               n=3, num_hashes=16, bands=4, threshold=0.5)


ORACLE["dedup_minhash_lsh"] = f"""
WITH {_SH_CTE},
seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
mh AS (SELECT doc_id, seed, min((h1 + seed * h2) % 4294967296) AS mv
       FROM hs CROSS JOIN seeds GROUP BY 1, 2),
sig AS (SELECT doc_id, seed // 4 AS band,
               md5(string_agg(mv::VARCHAR, ',' ORDER BY seed)) AS bkey
        FROM mh GROUP BY doc_id, seed // 4),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sig a JOIN sig b
           ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
common AS (SELECT id_a, id_b, count(*) AS c
           FROM cand JOIN hs x ON x.doc_id = id_a
                     JOIN hs y ON y.doc_id = id_b AND y.h1 = x.h1 AND y.h2 = x.h2
           GROUP BY 1, 2)
SELECT id_a, id_b, round(c / (x.n + y.n - c), 6) AS jaccard
FROM common JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
WHERE round(c / (x.n + y.n - c), 6) >= 0.5
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "text", "doc_id", max_hamming=3)


# 64-bit sketch as two 32-bit halves: lo bits from h2, hi bits from h1
# (mirrors operators/dedup.simhash); bands = 4 x 16-bit slices.
ORACLE["dedup_simhash"] = f"""
WITH {_SH_CTE},
bitsum AS (SELECT doc_id, i,
                  sum(CASE WHEN (h2 >> i) & 1 = 1 THEN 1 ELSE -1 END) AS slo,
                  sum(CASE WHEN (h1 >> i) & 1 = 1 THEN 1 ELSE -1 END) AS shi
           FROM hs CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) GROUP BY 1, 2),
sig AS (SELECT doc_id,
               CAST(sum(CASE WHEN slo > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sim_lo,
               CAST(sum(CASE WHEN shi > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS sim_hi
        FROM bitsum GROUP BY 1),
bands AS (SELECT doc_id, sim_lo, sim_hi, b,
                 CASE b WHEN 0 THEN sim_lo & 65535
                        WHEN 1 THEN (sim_lo >> 16) & 65535
                        WHEN 2 THEN sim_hi & 65535
                        ELSE (sim_hi >> 16) & 65535 END AS bkey
          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 bit_count(xor(a.sim_lo, b.sim_lo))
                 + bit_count(xor(a.sim_hi, b.sim_hi)) AS hamming
          FROM bands a JOIN bands b
            ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM pairs WHERE hamming <= 3
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def _query_vec(emb: DataFrame) -> DataFrame:
    """1-row query DataFrame = the min-vec_id row, selected with a
    broadcast join against the 1-row min aggregate — no driver
    collect() anywhere in the plan (operators also accept a literal
    list vector for the parameterized-API path)."""
    min_id = emb.agg(F.min("vec_id").alias("_mid"))
    return emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    min_id = emb.agg(F.min("vec_id").alias("_mid"))
    corpus = emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"),
                      "left_anti")
    return S.cosine_topk(corpus, _query_vec(emb), k=10)


ORACLE["ann_cosine_topk"] = f"""
WITH {_EMB_CTE}
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS score
FROM e, q
WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)
ORDER BY score DESC, vec_id
LIMIT 10
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, _query_vec(emb), k=10, nprobe=2)


ORACLE["ann_ivf_topk"] = f"""
WITH {_EMB_CTE},
cent AS (SELECT label, list(m ORDER BY i) AS c
         FROM (SELECT label, i, avg(v[i]) AS m
               FROM e, generate_series(1, 64) t(i) GROUP BY 1, 2)
         GROUP BY label),
probe AS (SELECT label
          FROM cent, q
          ORDER BY round(list_dot_product(c, qv)
                         / (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv))), 6)
                   DESC, label
          LIMIT 2)
SELECT vec_id,
       round(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS score
FROM e JOIN probe USING (label), q
ORDER BY score DESC, vec_id
LIMIT 10
"""


def ann_ivf_recall_by_nprobe(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Recall@10 of IVF serving as a function of nprobe — the
    quality/cost ablation behind the persisted-index family's
    ``opened/live = nprobe/lists`` read guarantee (and the audit the
    round-11 rebalance op protects: skewed lists decay exactly this
    curve). Lists rank by centroid cosine to the query (6-dp, ties by
    label); exact top-10 comes from brute force; for each nprobe in
    (1, 2, 4, 10), ``n_hits`` counts the exact-top-10 members whose
    list rank <= nprobe, ``recall`` = n_hits/10. One corpus scan for
    the exact ranking + one list-count-sized centroid frame — no
    driver collect, no per-nprobe rescan."""
    from pyspark.sql.window import Window as W

    from ..operators.similarity import _as_double, centroids, cosine
    emb = load_table(spark, sf_dir, "embeddings")
    q = _as_double(_query_vec(emb)
                   .select(F.col("embedding").alias("_qv")), "_qv")
    cents = centroids(emb, "label", "embedding")
    lw = W.orderBy(F.col("_cs").desc(), "label")
    ranks = (cents.crossJoin(F.broadcast(q))
             .select("label",
                     F.round(cosine(F.col("centroid"), F.col("_qv")), 6)
                     .alias("_cs"))
             .withColumn("_r", F.row_number().over(lw))
             .select("label", "_r"))
    top10 = (_as_double(emb, "embedding").crossJoin(F.broadcast(q))
             .select("vec_id", "label",
                     F.round(cosine(F.col("embedding"), F.col("_qv")), 6)
                     .alias("_s"))
             .orderBy(F.col("_s").desc(), "vec_id").limit(10))
    nps = local_frame(spark, [(1,), (2,), (4,), (10,)], "nprobe int")
    return (top10.join(F.broadcast(ranks), "label")
            .crossJoin(F.broadcast(nps))
            .groupBy("nprobe")
            .agg(F.sum(F.when(F.col("_r") <= F.col("nprobe"), 1)
                       .otherwise(0)).cast("int").alias("n_hits"))
            .withColumn("recall", F.round(F.col("n_hits") / 10.0, 2))
            .orderBy("nprobe"))


ORACLE["ann_ivf_recall_by_nprobe"] = f"""
WITH {_EMB_CTE},
cent AS (SELECT label, list(m ORDER BY i) AS c
         FROM (SELECT label, i, avg(v[i]) AS m
               FROM e, generate_series(1, 64) t(i) GROUP BY 1, 2)
         GROUP BY label),
lr AS (SELECT label,
              row_number() OVER (
                ORDER BY round(list_dot_product(c, qv)
                               / (sqrt(list_dot_product(c, c))
                                  * sqrt(list_dot_product(qv, qv))), 6)
                         DESC, label) AS r
       FROM cent, q),
t10 AS (SELECT vec_id, label FROM e, q
        ORDER BY round(list_dot_product(v, qv)
                       / (sqrt(list_dot_product(v, v))
                          * sqrt(list_dot_product(qv, qv))), 6)
                 DESC, vec_id
        LIMIT 10),
np AS (SELECT unnest([1, 2, 4, 10]) AS nprobe)
SELECT np.nprobe AS nprobe,
       CAST(sum(CASE WHEN lr.r <= np.nprobe THEN 1 ELSE 0 END) AS INT)
         AS n_hits,
       round(sum(CASE WHEN lr.r <= np.nprobe THEN 1 ELSE 0 END)
             / 10.0, 2) AS recall
FROM t10 JOIN lr USING (label) CROSS JOIN np
GROUP BY np.nprobe
ORDER BY nprobe
"""


def ann_signlsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free near-dup candidates via sign-LSH (deterministic
    md5-derived hyperplanes + banded bucket join), top-50 by verified
    cosine. Fully oracled: the planes are stated as literals in the
    SQL, and both engines evaluate the dot products as a sequential
    left fold over identical doubles, so even the plane-sign buckets
    reproduce exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (S.signlsh_neardup_pairs(emb, threshold=-1.0)
            .orderBy(F.col("score").desc(), "id_a", "id_b").limit(50))


def _signlsh_planes_values(n_planes: int = 32, dims: int = 64) -> str:
    """The Spark operator's deterministic hyperplanes as a DuckDB
    VALUES clause (repr() round-trips every double exactly)."""
    from ..operators.similarity import _sign_planes
    rows = ",\n".join(
        f"({p}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for p, row in enumerate(_sign_planes(n_planes, dims)))
    return f"(VALUES {rows}) planes(p, plane)"


ORACLE["ann_signlsh_candidates"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sk AS (SELECT vec_id, p,
              CASE WHEN list_dot_product(v, plane) >= 0 THEN 1 ELSE 0 END AS bit
       FROM e CROSS JOIN {_signlsh_planes_values()}),
bk AS (SELECT vec_id, p // 16 AS band,
              string_agg(bit::VARCHAR, '' ORDER BY p) AS bkey
       FROM sk GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bk a JOIN bk b
           ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
scored AS (SELECT id_a, id_b,
                  round(list_dot_product(x.v, y.v)
                        / (sqrt(list_dot_product(x.v, x.v))
                           * sqrt(list_dot_product(y.v, y.v))), 6) AS score
           FROM cand JOIN e x ON id_a = x.vec_id JOIN e y ON id_b = y.vec_id)
SELECT id_a, id_b, score FROM scored
ORDER BY score DESC, id_a, id_b LIMIT 50
"""


def ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched retrieval: top-10 cosine neighbors for the 4 smallest
    vec_ids in ONE corpus scan (broadcast query batch + per-query
    rank-filtered window) — the evaluation-set retrieval shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = (emb.select(F.col("vec_id").alias("query_id"), "embedding")
               .orderBy("query_id").limit(4))
    return S.batch_cosine_topk(emb, queries, k=10)


ORACLE["ann_batch_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT 4),
scored AS (SELECT query_id, e.vec_id,
                  round(list_dot_product(e.v, q.qv)
                        / (sqrt(list_dot_product(e.v, e.v))
                           * sqrt(list_dot_product(q.qv, q.qv))), 6) AS score
           FROM e CROSS JOIN q
           WHERE e.vec_id <> q.query_id),
ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id) AS rnk
           FROM scored)
SELECT query_id, rnk, vec_id, score FROM ranked WHERE rnk <= 10
"""

def semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style label-free semantic dedup: cluster around
    k = max(8, ceil(n/10000)) deterministic seed vectors (smallest
    md5-hash ids — k derived from corpus size so cluster sizes stay
    bounded as the corpus grows), drop vectors with a ≥0.30-cosine
    smaller-id neighbor in their cluster; report the per-cluster
    keep/drop summary. The oracle derives the identical k from
    count(*)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (S.semantic_dedup_summary(emb, threshold=0.30,
                                     target_cluster_size=10_000, min_k=8)
            .orderBy("cluster"))


ORACLE["semantic_dedup_clusters"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
kv AS (SELECT greatest(8, CAST(ceil(count(*) / 10000.0) AS BIGINT)) AS k
       FROM e),
seeds AS (SELECT sid, sv FROM (
            SELECT vec_id AS sid, v AS sv,
                   row_number() OVER (
                     ORDER BY CAST('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 8)
                                   AS BIGINT), vec_id) AS rn
            FROM e)
          WHERE rn <= (SELECT k FROM kv)),
scored AS (SELECT e.vec_id, e.v, s.sid,
                  round(list_dot_product(e.v, s.sv)
                        / (sqrt(list_dot_product(e.v, e.v))
                           * sqrt(list_dot_product(s.sv, s.sv))), 6) AS score
           FROM e CROSS JOIN seeds s),
assigned AS (SELECT vec_id, v, sid AS cluster FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                                            ORDER BY score DESC, sid) AS rn
               FROM scored)
             WHERE rn = 1),
dropped AS (SELECT DISTINCT a.cluster AS dcl, b.vec_id AS dvid
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.30)
SELECT cluster, count(*) AS n_vecs,
       count(d.dvid) AS n_dropped,
       count(*) - count(d.dvid) AS n_kept
FROM assigned LEFT JOIN dropped d
  ON assigned.cluster = d.dcl AND assigned.vec_id = d.dvid
GROUP BY 1 ORDER BY 1
"""


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.neardup_pairs_blocked(emb, threshold=-1.0, top=20)


ORACLE["embedding_neardup_pairs"] = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT id_a, id_b, score FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS score
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
ORDER BY score DESC, id_a, id_b
LIMIT 20
"""


# ---------------------------------------------------------------------------
# crossmodal_quality_by_label: join the text table to the embedding
# table (doc_id = vec_id) and aggregate text-quality stats per
# embedding cluster — the "join your modalities" pattern of a
# training-data pipeline.
# ---------------------------------------------------------------------------
def crossmodal_quality_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    scored = docs.select("doc_id", "lang", X.token_count(F.col("text")).alias("n_tokens"))
    return (
        scored.join(emb, scored.doc_id == emb.vec_id)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"),
             F.countDistinct("lang").alias("n_langs"))
        .orderBy("label")
    )


ORACLE["crossmodal_quality_by_label"] = """
SELECT label, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(lower(text), '\\w+'))) AS BIGINT) AS total_tokens,
       count(DISTINCT lang) AS n_langs
FROM documents JOIN embeddings ON doc_id = vec_id
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# deterministic sampling / split / trim (operators/sampling.py)
# ---------------------------------------------------------------------------
def sample_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 10% held-out split of documents keyed on doc_id:
    per split, doc count + token sum. Hash-bucket membership, no RNG."""
    from ..operators.sampling import train_test_split
    docs = load_table(spark, sf_dir, "documents")
    train, test = train_test_split(docs, "doc_id", test_fraction=0.1)
    t1 = train.select(F.lit("train").alias("split"), "doc_id",
                      X.token_count(F.col("text")).alias("n_tokens"))
    t2 = test.select(F.lit("test").alias("split"), "doc_id",
                     X.token_count(F.col("text")).alias("n_tokens"))
    return (t1.unionByName(t2).groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"))
            .orderBy("split"))


ORACLE["sample_split_stats"] = """
WITH b AS (SELECT doc_id, text,
                  CAST('0x' || substr(md5('0:' || doc_id), 1, 8) AS BIGINT) % 10000 AS bucket
           FROM documents)
SELECT CASE WHEN bucket < 1000 THEN 'test' ELSE 'train' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(lower(text), '\\w+'))) AS BIGINT) AS total_tokens
FROM b GROUP BY 1 ORDER BY 1
"""


def quantile_trim_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type [p05, p95] quality trim of event values; retained
    count + exact-sum per type."""
    from ..operators.sampling import quantile_trim
    ev = load_table(spark, sf_dir, "events")
    trimmed = quantile_trim(ev, "event_type", "value", 0.05, 0.95)
    return (trimmed.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.round(F.sum("value"), 2).alias("kept_value"))
            .orderBy("event_type"))


ORACLE["quantile_trim_events"] = """
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS qlo,
         quantile_cont(value, 0.95) AS qhi
  FROM events GROUP BY 1)
SELECT e.event_type, count(*) AS n_kept, round(sum(e.value), 2) AS kept_value
FROM events e JOIN bounds b ON e.event_type = b.event_type
WHERE e.value >= b.qlo AND e.value <= b.qhi
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# dedup_cluster_reps: near-dup pairs → connected components →
# representative per cluster (min doc_id). Oracle: recursive CTE
# reachability closure over the same pair list.
# ---------------------------------------------------------------------------
def dedup_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import connected_components
    docs = load_table(spark, sf_dir, "documents")
    # prefix-filtered pair source: identical pair set to the plain
    # inverted-index join (lossless, Bayardo et al.), but hot shingles
    # never enter the candidate join — the last uncapped quadratic
    # plan shape in the registry is gone. Oracle unchanged (the plain
    # join IS its oracle).
    pairs = D.prefix_filter_jaccard_pairs(docs, "text", "doc_id", n=3,
                                          threshold=0.5)
    comps = connected_components(pairs)
    return (comps.groupBy(F.col("component").alias("rep_id"))
            .agg(F.count(F.lit(1)).alias("cluster_size"),
                 F.max("node").alias("max_member"))
            .orderBy("rep_id"))


ORACLE["dedup_cluster_reps"] = f"""
WITH RECURSIVE {_SH_CTE},
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM hs a JOIN hs b
             ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
pairs AS (SELECT id_a, id_b
          FROM common JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
          WHERE round(c / (x.n + y.n - c), 6) >= 0.5),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, anc) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.anc FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT rep_id, count(*) AS cluster_size, max(node) AS max_member
FROM (SELECT node, min(anc) AS rep_id FROM reach GROUP BY node)
GROUP BY rep_id ORDER BY rep_id
"""


# ---------------------------------------------------------------------------
# posexplode_tokens: ordinal token explosion (LATERAL VIEW posexplode
# family) for a bounded set of documents.
# ---------------------------------------------------------------------------
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        docs.select("doc_id", F.posexplode(X.tokens(F.col("text")))
                    .alias("pos", "token"))
    )


ORACLE["posexplode_tokens"] = """
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t
             FROM documents WHERE doc_id < 20),
pos AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM tok)
SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[i] AS token FROM pos
"""


# ---------------------------------------------------------------------------
# fuzzy_part_names: blocked edit-distance matching over part names
# (entity-resolution family; same prefix blocking in the oracle).
# ---------------------------------------------------------------------------
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_pairs
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return fuzzy_pairs(part, "p_name", "p_partkey", max_distance=4, prefix_len=4)


ORACLE["fuzzy_part_names"] = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       levenshtein(a.p_name, b.p_name) AS distance
FROM part a JOIN part b
  ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4)
 AND a.p_partkey < b.p_partkey
 AND abs(length(a.p_name) - length(b.p_name)) <= 4
WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


# ---------------------------------------------------------------------------
# quantization_error_stats: int8 scalar-quantization round-trip error
# per embedding cluster (the 4x-memory-reduction path for a 100 TB
# vector store, with its accuracy cost measured).
# ---------------------------------------------------------------------------
def quantization_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    err = S.quantization_error(v)
    return (
        emb.select("label", err.alias("err"))
        .groupBy("label")
        .agg(F.round(F.sum("err"), 9).alias("total_err"),
             F.round(F.max("err"), 9).alias("max_err"),
             F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("label")
    )


ORACLE["quantization_error_stats"] = """
WITH e AS (
  SELECT label, embedding::DOUBLE[] AS v,
         list_min(embedding::DOUBLE[]) AS vmin,
         list_max(embedding::DOUBLE[]) AS vmax
  FROM embeddings),
err AS (
  SELECT label,
         list_aggregate(
           list_transform(v, x -> abs(x - (vmin + round((x - vmin) / (vmax - vmin) * 255, 0)
                                             / 255.0 * (vmax - vmin)))),
           'sum') / len(v) AS err
  FROM e)
SELECT label, round(sum(err), 9) AS total_err, round(max(err), 9) AS max_err,
       count(*) AS n_vecs
FROM err GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# decontamination: benchmark-leakage guard — training docs sharing any
# 3-gram shingle with the (hash-split) test set, with overlap counts.
# Test shingle set broadcast: no shuffle of the training index.
# ---------------------------------------------------------------------------
def decontamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontaminate import contamination_report
    from ..operators.sampling import train_test_split
    docs = load_table(spark, sf_dir, "documents")
    train, test = train_test_split(docs, "doc_id", test_fraction=0.1)
    return (contamination_report(train, test)
            .orderBy(F.col("n_shared_shingles").desc(), "doc_id"))


ORACLE["decontamination_report"] = f"""
WITH {_SH_CTE},
b AS (SELECT doc_id,
             CAST('0x' || substr(md5('0:' || doc_id), 1, 8) AS BIGINT) % 10000
               AS bucket
      FROM documents),
tr AS (SELECT hs.* FROM hs JOIN b USING (doc_id) WHERE bucket >= 1000),
te AS (SELECT DISTINCT h1, h2 FROM hs JOIN b USING (doc_id) WHERE bucket < 1000)
SELECT tr.doc_id, count(*) AS n_shared_shingles
FROM tr JOIN te USING (h1, h2)
GROUP BY 1
ORDER BY 2 DESC, 1
"""


# ---------------------------------------------------------------------------
# tf-idf: top-3 characteristic terms per document — explode → per-doc
# term counts → document frequencies → tf·ln(N/df), ranked per doc.
# N arrives via a broadcast 1-row aggregate (no driver collect).
# ---------------------------------------------------------------------------
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term").crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df",
                F.round(F.col("tf") * F.log(F.col("n_docs").cast("double")
                                            / F.col("df")), 6).alias("score"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "rnk", "term", "tf", "df", "score"))


ORACLE["tfidf_top_terms"] = """
WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS term
             FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (SELECT doc_id, term, tf, df,
                  round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, term) AS rnk
           FROM scored)
SELECT doc_id, rnk, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       score
FROM ranked WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# z-score normalization per group: the standard feature-scaling pass
# before training statistics. Moments are exact decimal sums (broadcast
# back — one small row per group), the per-row transform is pure
# deterministic double arithmetic; no second shuffle of the fact table.
# ---------------------------------------------------------------------------
def zscore_normalize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,2)")
    moments = (
        ev.groupBy("event_type")
        .agg(F.sum(x).cast("double").alias("sx"),
             F.sum(x * x).cast("double").alias("sxx"),
             F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    n = F.col("n")
    mean = F.col("sx") / n
    std = F.sqrt((F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1))
    return (
        ev.join(F.broadcast(moments), "event_type")
        .select("event_id", "event_type",
                F.round((F.col("value") - mean) / std, 4).alias("zscore"))
    )


ORACLE["zscore_normalize_events"] = """
WITH m AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value AS DECIMAL(18,2))
                  * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         count(*) AS n
  FROM events GROUP BY 1 HAVING count(*) >= 2)
SELECT event_id, events.event_type,
       round((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 4)
         AS zscore
FROM events JOIN m ON events.event_type = m.event_type
"""


# ---------------------------------------------------------------------------
# winnowing fingerprints (MOSS rolling-hash): min hash of each sliding
# window of k-gram hashes — any shared run of >= k+w-1 tokens between
# two docs is guaranteed a shared fingerprint. posexplode + window
# min, one shuffle on doc_id, portable hashes.
# ---------------------------------------------------------------------------
def winnow_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return X.winnow_fingerprints(docs, "text", "doc_id", k=5, w=4)


ORACLE["winnow_fingerprints_docs"] = """
WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t
             FROM documents),
pos AS (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 4, 0))) AS i
        FROM tok),
g AS (SELECT doc_id, i - 1 AS pos,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  || ' ' || t[i+4] AS gram
      FROM pos),
h AS (SELECT doc_id, pos,
             CAST('0x' || substr(md5('0:' || gram), 1, 8) AS BIGINT) AS hv
      FROM g),
wm AS (SELECT doc_id, pos,
              min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
              count(*) OVER (PARTITION BY doc_id) AS n
       FROM h)
SELECT DISTINCT doc_id, wmin AS fp FROM wm WHERE pos <= n - 4
"""


# ---------------------------------------------------------------------------
# containment dedup: asymmetric |A∩B|/min(|A|,|B|) — catches short
# docs quoted wholesale inside long ones, which symmetric Jaccard
# scores near zero. Same inverted-index shape, shared df_cap.
# ---------------------------------------------------------------------------
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_containment_pairs(docs, "text", "doc_id", n=3,
                                     threshold=0.5, df_cap=_NGRAM_DF_CAP)


ORACLE["dedup_containment_pairs"] = f"""
WITH {_SH_CTE},
hot AS (SELECT h1, h2 FROM hs GROUP BY 1, 2 HAVING count(*) > {_NGRAM_DF_CAP}),
hsc AS (SELECT hs.* FROM hs ANTI JOIN hot USING (h1, h2)),
szc AS (SELECT doc_id, count(*) AS n FROM hsc GROUP BY 1),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM hsc a JOIN hsc b
             ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT id_a, id_b, round(c / least(x.n, y.n), 6) AS containment
FROM common JOIN szc x ON id_a = x.doc_id JOIN szc y ON id_b = y.doc_id
WHERE round(c / least(x.n, y.n), 6) >= 0.5
"""


# ---------------------------------------------------------------------------
# repetition quality filter: per-doc share of 3-gram occurrences that
# repeat an earlier 3-gram (1 - distinct/total) — boilerplate/spam
# signal; pure Column arithmetic.
# ---------------------------------------------------------------------------
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = X.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        (F.size(t) - 2).cast("long").alias("n_grams_total"),
        F.size(X.shingles(F.col("text"), 3)).cast("long").alias("n_grams_distinct"),
        X.repetition_ratio(F.col("text"), 3).alias("repetition"),
    )


ORACLE["text_repetition_stats"] = f"""
WITH {_SH_CTE},
tot AS (SELECT doc_id, len(regexp_extract_all(lower(text), '\\w+')) - 2 AS nt
        FROM documents)
SELECT t.doc_id,
       CAST(t.nt AS BIGINT) AS n_grams_total,
       CAST(coalesce(sz.n, 0) AS BIGINT) AS n_grams_distinct,
       CASE WHEN t.nt > 0 THEN round(1.0 - coalesce(sz.n, 0) / t.nt, 6)
            ELSE 0.0 END AS repetition
FROM tot t LEFT JOIN sz ON t.doc_id = sz.doc_id
"""


QUERIES = {
    "text_quality_stats": text_quality_stats,
    "decontamination_report": decontamination_report,
    "dedup_containment_pairs": dedup_containment_pairs,
    "text_repetition_stats": text_repetition_stats,
    "tfidf_top_terms": tfidf_top_terms,
    "zscore_normalize_events": zscore_normalize_events,
    "winnow_fingerprints_docs": winnow_fingerprints_docs,
    "crossmodal_quality_by_label": crossmodal_quality_by_label,
    "sample_split_stats": sample_split_stats,
    "quantile_trim_events": quantile_trim_events,
    "dedup_cluster_reps": dedup_cluster_reps,
    "semantic_dedup_clusters": semantic_dedup_clusters,
    "fuzzy_part_names": fuzzy_part_names,
    "posexplode_tokens": posexplode_tokens,
    "quantization_error_stats": quantization_error_stats,
    "text_lang_fingerprint": text_lang_fingerprint,
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_ngram_pairs": dedup_ngram_pairs,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_batch_topk": ann_batch_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_recall_by_nprobe": ann_ivf_recall_by_nprobe,
    "ann_signlsh_candidates": ann_signlsh_candidates,
    "embedding_neardup_pairs": embedding_neardup_pairs,
}


# ---------------------------------------------------------------------------
# dedup_prefix_jaccard: AllPairs/PPJoin prefix-filtered exact Jaccard
# join. LOSSLESS (prefix filtering is exact, not probabilistic), so
# the oracle is the plain all-shared-shingle Jaccard join — the
# prefix mechanics must reproduce it identically while generating far
# fewer candidates than the full inverted index.
# ---------------------------------------------------------------------------
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.prefix_filter_jaccard_pairs(docs, "text", "doc_id", n=3,
                                         threshold=0.5)


ORACLE["dedup_prefix_jaccard"] = f"""
WITH {_SH_CTE},
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM hs a JOIN hs b
             ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
SELECT id_a, id_b, round(c / (x.n + y.n - c), 6) AS jaccard
FROM common JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
WHERE round(c / (x.n + y.n - c), 6) >= 0.5
"""

QUERIES["dedup_prefix_jaccard"] = dedup_prefix_jaccard


# ---------------------------------------------------------------------------
# entity_resolution_parts: end-to-end master-data entity resolution —
# fuzzy blocking (prefix + length band + levenshtein) → transitive
# closure (pointer-jumped connected components) → one GOLDEN RECORD
# per entity cluster (representative = min key; canonical name = the
# representative's). The MDM workflow the reference's ERP warehouse
# delegates to stored procedures, run end-to-end in Spark.
#
# Input is the deterministic p_partkey < 400 slice: part names are a
# dense similarity graph (the documented density cliff — 31k pairs
# at distance 1 over full sf0.01), and ER demo semantics want
# reviewable clusters, not a near-clique. The full-corpus scale path
# is the same composition with `prefix_filter_jaccard_pairs` as the
# pair source (lossless, hot-block-free) — see dedup_cluster_reps.
# ---------------------------------------------------------------------------
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import connected_components
    from ..operators.fuzzy import fuzzy_pairs
    part = (load_table(spark, sf_dir, "part")
            .filter(F.col("p_partkey") < 400)
            .select("p_partkey", "p_name")
            .localCheckpoint(eager=True))
    pairs = fuzzy_pairs(part, "p_name", "p_partkey",
                        max_distance=2, prefix_len=4)
    comps = connected_components(pairs)
    labeled = (part.join(comps, part["p_partkey"] == comps["node"], "left")
               .select("p_partkey", "p_name",
                       F.coalesce(F.col("component"), F.col("p_partkey"))
                       .alias("entity_id")))
    canon = (labeled.filter(F.col("p_partkey") == F.col("entity_id"))
             .select("entity_id", F.col("p_name").alias("canonical_name")))
    return (labeled.groupBy("entity_id")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .join(F.broadcast(canon), "entity_id")
            .orderBy(F.desc("n_members"), "entity_id")
            .limit(25)
            .select("entity_id", "n_members", "canonical_name"))


ORACLE["entity_resolution_parts"] = """
WITH RECURSIVE p AS (SELECT p_partkey, p_name FROM part
                     WHERE p_partkey < 400),
pairs AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
          FROM p a JOIN p b
            ON substring(a.p_name, 1, 4) = substring(b.p_name, 1, 4)
           AND a.p_partkey < b.p_partkey
           AND abs(length(a.p_name) - length(b.p_name)) <= 2
          WHERE levenshtein(a.p_name, b.p_name) <= 2),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, anc) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.anc FROM edges e JOIN reach r ON e.dst = r.node),
comp AS (SELECT node, min(anc) AS component FROM reach GROUP BY node),
labeled AS (SELECT p.p_partkey, p.p_name,
                   coalesce(c.component, p.p_partkey) AS entity_id
            FROM p LEFT JOIN comp c ON p.p_partkey = c.node),
canon AS (SELECT entity_id, p_name AS canonical_name
          FROM labeled WHERE p_partkey = entity_id)
SELECT l.entity_id, count(*) AS n_members, max(c.canonical_name)
         AS canonical_name
FROM labeled l JOIN canon c ON l.entity_id = c.entity_id
GROUP BY 1 ORDER BY n_members DESC, l.entity_id LIMIT 25
"""

QUERIES["entity_resolution_parts"] = entity_resolution_parts

# ---------------------------------------------------------------------------
# dedup_incremental_minhash: nightly-ingest dedup — pairs involving
# the NEW batch only (operators/dedup.incremental_minhash_pairs),
# O(batch + touched) instead of a corpus re-scan. Bit-identical to
# the full-corpus join filtered to batch-touching pairs, which is
# exactly what the oracle states.
# ---------------------------------------------------------------------------
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    return D.incremental_minhash_pairs(old, new, "text", "doc_id",
                                       n=3, num_hashes=16, bands=4,
                                       threshold=0.5)


ORACLE["dedup_incremental_minhash"] = (
    ORACLE["dedup_minhash_lsh"]
    + "  AND (id_a % 4 = 0 OR id_b % 4 = 0)")

QUERIES["dedup_incremental_minhash"] = dedup_incremental_minhash



# ---------------------------------------------------------------------------
# dedup_source_priority: cross-source canonicalization — when a
# near-dup cluster spans sources, KEEP THE COPY FROM THE PREFERRED
# SOURCE (licensing/quality tiers), not the arbitrary min-id. The
# priority here is the demo rule rank = source name order; production
# passes an explicit tier map. Representative = argmin by
# (priority, doc_id) — total order, engine-replayable. Output: per
# source, docs before vs docs kept (the acquisition-team view of
# "which feeds survive dedup").
# ---------------------------------------------------------------------------
def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W
    from ..operators.clustering import connected_components
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    pairs = D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"),
                                "text", "doc_id",
                                n=3, num_hashes=16, bands=4,
                                threshold=0.5)
    comps = connected_components(pairs)
    labeled = (docs.join(comps, docs["doc_id"] == comps["node"], "left")
               .select("doc_id", "source",
                       F.coalesce("component", "doc_id").alias("cl")))
    win = W.partitionBy("cl").orderBy(F.asc("source"), F.asc("doc_id"))
    kept = (labeled.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") == 1))
    before = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    after = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return (before.join(after, "source", "left")
            .select("source", "n_docs",
                    F.coalesce("n_kept", F.lit(0)).alias("n_kept"))
            .orderBy("source"))


ORACLE["dedup_source_priority"] = (
    ORACLE["dedup_minhash_lsh"]
    .replace("WITH ", "WITH RECURSIVE ", 1)
    .replace("""SELECT id_a, id_b, round(c / (x.n + y.n - c), 6) AS jaccard
FROM common JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
WHERE round(c / (x.n + y.n - c), 6) >= 0.5""",
""",
pairs2 AS (
  SELECT id_a, id_b FROM common
  JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
  WHERE round(c / (x.n + y.n - c), 6) >= 0.5),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs2
          UNION SELECT id_b, id_a FROM pairs2),
reach(node, anc) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, r.anc FROM edges e JOIN reach r ON e.dst = r.node),
comp AS (SELECT node, min(anc) AS component FROM reach GROUP BY node),
labeled AS (SELECT d.doc_id, d.source,
                   coalesce(c.component, d.doc_id) AS cl
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
kept AS (SELECT doc_id, source FROM labeled
         QUALIFY row_number() OVER (PARTITION BY cl
                                    ORDER BY source, doc_id) = 1),
bef AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
aft AS (SELECT source, count(*) AS n_kept FROM kept GROUP BY 1)
SELECT bef.source, bef.n_docs,
       CAST(coalesce(aft.n_kept, 0) AS BIGINT) AS n_kept
FROM bef LEFT JOIN aft ON bef.source = aft.source
ORDER BY bef.source"""))

QUERIES["dedup_source_priority"] = dedup_source_priority


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py): M=4 subspaces
    x 16 seeded codebook entries over the 64-dim embeddings; corpus =
    everything but the min-vec_id query row (the ann_* convention).
    Every distance is an exact integer, so even the quantization error
    hash-matches the oracle's relational replay."""
    from ..operators import pq as PQ
    emb = load_table(spark, sf_dir, "embeddings")
    min_id = emb.agg(F.min("vec_id").alias("_mid"))
    corpus = emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"),
                      "left_anti")
    return PQ.pq_topk(corpus, _query_vec(emb), k=10)


# the PQ oracle chain (shared by ann_pq_topk and the re-rank stage):
# micro-unit corpus, seeded codebooks, exact integer encode + ADC
_PQ_CHAIN = """
ev AS (SELECT vec_id,
              list_transform(embedding::DOUBLE[],
                             x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS v
       FROM embeddings),
qrow AS (SELECT v FROM ev WHERE vec_id = (SELECT min(vec_id) FROM ev)),
corpus AS (SELECT * FROM ev WHERE vec_id <> (SELECT min(vec_id) FROM ev)),
-- seeded codebooks: 16 corpus rows ranked by (md5 hash of id, id);
-- NOTE seeds come from the CORPUS (pq_topk receives the query-less frame)
seeds AS (SELECT v, row_number() OVER (
              ORDER BY CAST('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
                       vec_id) - 1 AS code
          FROM corpus
          ORDER BY CAST('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
                   vec_id
          LIMIT 16),
-- exact integer squared-L2 of every (corpus row, subspace, code)
dist AS (SELECT c.vec_id, m.m, s.code,
                sum((c.v[m.m * 16 + i.i] - s.v[m.m * 16 + i.i])
                    * (c.v[m.m * 16 + i.i] - s.v[m.m * 16 + i.i])) AS d2
         FROM corpus c, generate_series(0, 3) m(m), seeds s,
              generate_series(1, 16) i(i)
         GROUP BY 1, 2, 3),
enc AS (SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, code) AS rn
        FROM dist),
qdist AS (SELECT m.m, s.code,
                 sum((q.v[m.m * 16 + i.i] - s.v[m.m * 16 + i.i])
                     * (q.v[m.m * 16 + i.i] - s.v[m.m * 16 + i.i])) AS qd2
          FROM qrow q, generate_series(0, 3) m(m), seeds s,
               generate_series(1, 16) i(i)
          GROUP BY 1, 2),
adc AS (SELECT e2.vec_id,
               string_agg(e2.code, '-' ORDER BY e2.m) AS codes,
               CAST(sum(qd.qd2) AS BIGINT) AS adc_dist
        FROM enc e2 JOIN qdist qd ON e2.m = qd.m AND e2.code = qd.code
        WHERE e2.rn = 1
        GROUP BY e2.vec_id)
"""

ORACLE["ann_pq_topk"] = f"""
WITH {_PQ_CHAIN}
SELECT vec_id, codes, adc_dist FROM adc
ORDER BY adc_dist, vec_id
LIMIT 10
"""
QUERIES["ann_pq_topk"] = ann_pq_topk


def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (operators/similarity.mmr_topk):
    exact top-20 pool by cosine, then 5 greedy maximal-marginal-
    relevance picks at lambda=0.7. The oracle unrolls the identical
    greedy rounds (same 6dp-rounded cosines, same raw-double argmax,
    same id tiebreak), so the selection ORDER hash-matches."""
    emb = load_table(spark, sf_dir, "embeddings")
    min_id = emb.agg(F.min("vec_id").alias("_mid"))
    corpus = emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"),
                      "left_anti")
    return S.mmr_topk(corpus, _query_vec(emb), k=5, pool=20, lam=0.7)


def _mmr_oracle(k: int = 5, pool: int = 20) -> str:
    """Unrolled greedy-MMR oracle: round i picks the argmax of
    ``0.7*qs - (1.0-0.7)*max(sim to selected)`` over the unselected
    pool ((1.0 - 0.7) spelled exactly as the operator computes it —
    the literal 0.3 is a DIFFERENT double). Round 1's redundancy term
    is 0.0 (empty selection)."""
    head = f"""
WITH {_EMB_CTE},
cand AS (SELECT vec_id,
                round(list_dot_product(v, qv)
                      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS qs,
                v
         FROM e, q
         WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)
         ORDER BY qs DESC, vec_id
         LIMIT {pool}),
p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
             round(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
      FROM cand a JOIN cand b ON a.vec_id < b.vec_id),
s AS (SELECT ia, ib, sim FROM p UNION ALL SELECT ib AS ia, ia AS ib, sim FROM p),
r1 AS (SELECT vec_id, 0.7 * qs - (1.0 - 0.7) * 0.0 AS m
       FROM cand ORDER BY m DESC, vec_id LIMIT 1),
sel1 AS (SELECT vec_id FROM r1)"""
    rounds, unions = [], ["SELECT 1 AS rnk, vec_id, m AS mmr_score FROM r1"]
    for i in range(2, k + 1):
        rounds.append(f""",
r{i} AS (SELECT c.vec_id,
               0.7 * c.qs - (1.0 - 0.7) * (SELECT max(s.sim) FROM s
                                           WHERE s.ia = c.vec_id
                                             AND s.ib IN (SELECT vec_id FROM sel{i-1})) AS m
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i-1})
        ORDER BY m DESC, c.vec_id LIMIT 1),
sel{i} AS (SELECT vec_id FROM sel{i-1} UNION ALL SELECT vec_id FROM r{i})""")
        unions.append(f"SELECT {i} AS rnk, vec_id, m AS mmr_score FROM r{i}")
    return head + "".join(rounds) + "\n" + "\nUNION ALL\n".join(unions)


ORACLE["ann_mmr_rerank"] = _mmr_oracle()
QUERIES["ann_mmr_rerank"] = ann_mmr_rerank


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed production ANN shape (FAISS's default at
    scale): coarse-quantize with the label-cluster centroids (probe
    the 2 best lists, exactly like ann_ivf_topk), then rank ONLY the
    probed lists with the PQ ADC (operators/pq.py). At 100 TB this is
    the two-level pruning story: IVF cuts the scan to nprobe/nlist of
    the corpus, PQ cuts the bytes per scanned row by ~64x."""
    from ..operators import pq as PQ
    emb = load_table(spark, sf_dir, "embeddings")
    query = _query_vec(emb)
    # probe: identical plan to ann_ivf_topk's first stage
    from ..operators.similarity import _as_double, cosine
    cents = S.centroids(emb)
    q = _as_double(query.select(F.col("embedding").alias("_qv")), "_qv")
    probed = (cents.crossJoin(F.broadcast(q))
              .select("label",
                      F.round(cosine(F.col("centroid"), F.col("_qv")), 6)
                      .alias("cscore"))
              .orderBy(F.col("cscore").desc(), F.col("label"))
              .limit(2).select("label"))
    min_id = emb.agg(F.min("vec_id").alias("_mid"))
    narrowed = (emb.join(F.broadcast(probed), "label")
                .join(F.broadcast(min_id),
                      F.col("vec_id") == F.col("_mid"), "left_anti"))
    return PQ.pq_topk(narrowed, query, k=10)


ORACLE["ann_ivfpq_topk"] = f"""
WITH {_EMB_CTE},
cent AS (SELECT label, list(m ORDER BY i) AS c
         FROM (SELECT label, i, avg(v[i]) AS m
               FROM e, generate_series(1, 64) t(i) GROUP BY 1, 2)
         GROUP BY label),
probe AS (SELECT label
          FROM cent, q
          ORDER BY round(list_dot_product(c, qv)
                         / (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qv, qv))), 6)
                   DESC, label
          LIMIT 2),
cv AS (SELECT vec_id,
              list_transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS v
       FROM e JOIN probe USING (label)
       WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)),
qm AS (SELECT list_transform(qv, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS v
       FROM q),
seeds AS (SELECT v, row_number() OVER (
              ORDER BY CAST('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
                       vec_id) - 1 AS code
          FROM cv
          ORDER BY CAST('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
                   vec_id
          LIMIT 16),
dist AS (SELECT c.vec_id, m.m, s.code,
                sum((c.v[m.m * 16 + i.i] - s.v[m.m * 16 + i.i])
                    * (c.v[m.m * 16 + i.i] - s.v[m.m * 16 + i.i])) AS d2
         FROM cv c, generate_series(0, 3) m(m), seeds s,
              generate_series(1, 16) i(i)
         GROUP BY 1, 2, 3),
enc AS (SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY d2, code) AS rn
        FROM dist),
qdist AS (SELECT m.m, s.code,
                 sum((qm.v[m.m * 16 + i.i] - s.v[m.m * 16 + i.i])
                     * (qm.v[m.m * 16 + i.i] - s.v[m.m * 16 + i.i])) AS qd2
          FROM qm, generate_series(0, 3) m(m), seeds s,
               generate_series(1, 16) i(i)
          GROUP BY 1, 2)
SELECT e2.vec_id,
       string_agg(e2.code, '-' ORDER BY e2.m) AS codes,
       CAST(sum(qd.qd2) AS BIGINT) AS adc_dist
FROM enc e2 JOIN qdist qd ON e2.m = qd.m AND e2.code = qd.code
WHERE e2.rn = 1
GROUP BY e2.vec_id
ORDER BY adc_dist, vec_id
LIMIT 10
"""

QUERIES["ann_ivfpq_topk"] = ann_ivfpq_topk


def ann_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full PQ serving loop: ADC shortlists 50 candidates from
    the compressed codes, the raw vectors of ONLY those 50 are read
    back for an exact cosine re-rank, and the result self-audits with
    recall@10 against the brute-force answer. This is how PQ is
    actually served at 100 TB — the approximate pass touches 4-byte
    codes, the exact pass touches 50 raw vectors, never the corpus."""
    from ..operators import pq as PQ
    emb = load_table(spark, sf_dir, "embeddings")
    query = _query_vec(emb)
    min_id = emb.agg(F.min("vec_id").alias("_mid"))
    corpus = emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"),
                      "left_anti")
    cand = PQ.pq_topk(corpus, query, k=50).select("vec_id")
    rerank = (S.cosine_topk(corpus.join(F.broadcast(cand), "vec_id"),
                            query, k=10)
              .localCheckpoint(eager=True))  # 2 consumers: out + recall
    exact = S.cosine_topk(corpus, query, k=10).select("vec_id")
    hits = rerank.join(exact, "vec_id", "left_semi") \
                 .agg(F.count(F.lit(1)).alias("_h"))
    recall = hits.select(
        F.round(F.col("_h").cast("double") / 10.0, 2).alias("recall_at_10"))
    return (rerank.crossJoin(F.broadcast(recall))
            .orderBy(F.desc("score"), F.asc("vec_id")))


ORACLE["ann_pq_rerank_topk"] = f"""
WITH {_PQ_CHAIN},
cand AS (SELECT vec_id FROM adc ORDER BY adc_dist, vec_id LIMIT 50),
ed AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)),
qd AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
rr AS (SELECT e3.vec_id,
              round(list_dot_product(e3.v, qd.qv)
                    / (sqrt(list_dot_product(e3.v, e3.v))
                       * sqrt(list_dot_product(qd.qv, qd.qv))), 6) AS score
       FROM ed e3 JOIN cand USING (vec_id), qd
       ORDER BY score DESC, vec_id
       LIMIT 10),
exact AS (SELECT e3.vec_id
          FROM ed e3, qd
          ORDER BY round(list_dot_product(e3.v, qd.qv)
                         / (sqrt(list_dot_product(e3.v, e3.v))
                            * sqrt(list_dot_product(qd.qv, qd.qv))), 6)
                   DESC, vec_id
          LIMIT 10),
rec AS (SELECT round(CAST((SELECT count(*) FROM rr JOIN exact USING (vec_id))
                          AS DOUBLE) / 10.0, 2) AS recall_at_10)
SELECT rr.vec_id, rr.score, rec.recall_at_10
FROM rr, rec
ORDER BY score DESC, vec_id
"""

QUERIES["ann_pq_rerank_topk"] = ann_pq_rerank_topk


def ann_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ with a TRAINED codebook (operators/pq.pq_trained_codebook_df
    — one per-subspace Lloyd round over the corpus sub-vectors, seeded
    deterministically) and a recall@10-vs-exact self-audit column:
    the production-quality serving index the seeded variant stands in
    for, under the same exact-integer gate. The oracle replays the
    ENTIRE training round relationally: seed assignment, the
    round-half-up integer mean update, empty-code carry-over, then
    the ADC ranking on the trained book."""
    from ..operators import pq as PQ
    emb = load_table(spark, sf_dir, "embeddings")
    query = _query_vec(emb)
    min_id = emb.agg(F.min("vec_id").alias("_mid"))
    corpus = emb.join(F.broadcast(min_id), F.col("vec_id") == F.col("_mid"),
                      "left_anti")
    # the exact-cosine audit is INDEPENDENT of the trained codebook —
    # overlap its one corpus scan with the training/encode jobs
    # (optimization guide §2.6) instead of idling through their tails;
    # the checkpointed frame is deterministic, so the result is
    # unchanged (round 12)
    from concurrent.futures import ThreadPoolExecutor

    def _exact():
        return (S.cosine_topk(corpus, query, k=10).select("vec_id")
                .localCheckpoint(eager=True))

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_exact = pool.submit(thread_target(spark, _exact))
        top = (PQ.pq_topk(corpus, query, k=10, codebook="trained")
               .localCheckpoint(eager=True))  # 2 consumers: out + recall
        exact = fut_exact.result()
    hits = (top.join(exact, "vec_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("_h")))
    recall = hits.select(
        F.round(F.col("_h").cast("double") / 10.0, 2)
        .alias("recall_at_10"))
    return (top.crossJoin(F.broadcast(recall))
            .orderBy("adc_dist", "vec_id"))


ORACLE["ann_pq_trained_topk"] = """
WITH
ev AS (SELECT vec_id,
              list_transform(embedding::DOUBLE[],
                             x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT)) AS v
       FROM embeddings),
qrow AS (SELECT v FROM ev WHERE vec_id = (SELECT min(vec_id) FROM ev)),
corpus AS (SELECT * FROM ev WHERE vec_id <> (SELECT min(vec_id) FROM ev)),
seeds AS (SELECT v, row_number() OVER (
              ORDER BY CAST('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
                       vec_id) - 1 AS code
          FROM corpus
          ORDER BY CAST('0x' || substr(md5('0:' || CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
                   vec_id
          LIMIT 16),
seedsub AS (SELECT m.m, s.code, list(s.v[m.m * 16 + i.i] ORDER BY i.i) AS sub
            FROM seeds s, generate_series(0, 3) m(m),
                 generate_series(1, 16) i(i)
            GROUP BY m.m, s.code),
-- training assignment under the seed codebook (exact integer L2,
-- ties -> smaller code)
dist0 AS (SELECT c.vec_id, b.m, b.code,
                 sum((c.v[b.m * 16 + i.i] - b.sub[i.i])
                     * (c.v[b.m * 16 + i.i] - b.sub[i.i])) AS d2
          FROM corpus c, seedsub b, generate_series(1, 16) i(i)
          GROUP BY 1, 2, 3),
enc0 AS (SELECT vec_id, m, code FROM (
           SELECT vec_id, m, code,
                  row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2, code) AS rn
           FROM dist0) WHERE rn = 1),
-- M-step: component-wise round-half-up integer mean
upd AS (SELECT e0.m, e0.code, i.i,
               CAST(floor((2.0 * sum(c.v[e0.m * 16 + i.i]) + count(*))
                          / (2.0 * count(*))) AS BIGINT) AS comp
        FROM enc0 e0 JOIN corpus c USING (vec_id),
             generate_series(1, 16) i(i)
        GROUP BY e0.m, e0.code, i.i),
book1 AS (SELECT m, code, list(comp ORDER BY i) AS sub
          FROM upd GROUP BY m, code),
-- empty codes carry their seed entry
bookf AS (SELECT m, code, sub FROM book1
          UNION ALL
          SELECT ss.m, ss.code, ss.sub FROM seedsub ss
          WHERE NOT EXISTS (SELECT 1 FROM book1 b
                            WHERE b.m = ss.m AND b.code = ss.code)),
-- ADC on the trained book
dist1 AS (SELECT c.vec_id, b.m, b.code,
                 sum((c.v[b.m * 16 + i.i] - b.sub[i.i])
                     * (c.v[b.m * 16 + i.i] - b.sub[i.i])) AS d2
          FROM corpus c, bookf b, generate_series(1, 16) i(i)
          GROUP BY 1, 2, 3),
enc1 AS (SELECT vec_id, m, code FROM (
           SELECT vec_id, m, code,
                  row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2, code) AS rn
           FROM dist1) WHERE rn = 1),
qdist AS (SELECT b.m, b.code,
                 sum((q.v[b.m * 16 + i.i] - b.sub[i.i])
                     * (q.v[b.m * 16 + i.i] - b.sub[i.i])) AS qd2
          FROM qrow q, bookf b, generate_series(1, 16) i(i)
          GROUP BY 1, 2),
adc AS (SELECT e1.vec_id,
               string_agg(e1.code, '-' ORDER BY e1.m) AS codes,
               CAST(sum(qd.qd2) AS BIGINT) AS adc_dist
        FROM enc1 e1 JOIN qdist qd ON e1.m = qd.m AND e1.code = qd.code
        GROUP BY e1.vec_id),
top AS (SELECT vec_id, codes, adc_dist FROM adc
        ORDER BY adc_dist, vec_id LIMIT 10),
ed AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)),
qd2 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
        WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
exact AS (SELECT e3.vec_id
          FROM ed e3, qd2
          ORDER BY round(list_dot_product(e3.v, qd2.qv)
                         / (sqrt(list_dot_product(e3.v, e3.v))
                            * sqrt(list_dot_product(qd2.qv, qd2.qv))), 6)
                   DESC, vec_id
          LIMIT 10),
rec AS (SELECT round(CAST((SELECT count(*) FROM top JOIN exact USING (vec_id))
                          AS DOUBLE) / 10.0, 2) AS recall_at_10)
SELECT top.vec_id, top.codes, top.adc_dist, rec.recall_at_10
FROM top, rec
ORDER BY adc_dist, vec_id
"""

QUERIES["ann_pq_trained_topk"] = ann_pq_trained_topk
