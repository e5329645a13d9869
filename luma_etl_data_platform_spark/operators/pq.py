"""Product quantization (PQ) for approximate nearest neighbor serving.

The missing compression tier of the ANN family (brute/batched/IVF/
sign-LSH/k-means-IVF live in ``operators/similarity.py`` /
``operators/kmeans.py``): split each d-dim vector into M contiguous
subspaces, quantize every subspace to one of k codebook entries, and
serve queries with an asymmetric-distance computation (ADC) — the
query keeps full precision, each corpus vector is reduced to M small
code ids, and the approximate distance is a sum of M table lookups
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).

Why this matters at 100 TB: a float32 corpus at d=64 is 256 B/vector;
PQ at M=4, k=16 is 4 code ids — a ~64x smaller serving index that
fits executor memory when raw vectors cannot, and the serving scan
reads ONLY the code columns (columnar projection does the rest).
Encoding is one pass; re-ranking survivors against raw vectors is a
bounded second read.

Determinism doctrine (same as ``operators/kmeans.py``): vectors snap
to integer micro-units; codebook entries are the sub-vectors of the k
corpus rows with the smallest portable md5 of their id (no RNG — the
SemDeDup/k-means seeding rule; swap in trained ``kmeans_model``
centroids per subspace in production); all distances are exact
integer squared-L2, ties break to the smaller code id; the ADC total
is an exact BIGINT — bit-identical at any partitioning and replayable
in any engine.

Plan shape (round-12 rewrite, optimization guide §2.4 "remove
shuffles outright"): every decision about a vector — the per-subspace
argmin, the code string, the ADC sum — depends only on that vector's
own row plus the M*k-entry codebook, so NOTHING here needs an
exchange before the final top-k. The codebook rows are folded into a
ONE-ROW broadcast frame holding a (m, code)-sorted array of entries,
and encoding is a single narrow projection: ``transform`` over the
row's M sub-vectors, each taking
``aggregate(filter(book, e.m == s.m), least(struct(d2, code, qd2)))``
— exact-integer lexicographic min, ties to the smaller code id
because the entry array is code-sorted and ``least`` keeps the
earlier struct on a strict tie. The old shape exploded the corpus
into M rows per vector, broadcast-joined the codebook, and paid a
corpus-wide ``groupBy(id, m)`` exchange (plus a second ``groupBy(id)``
for the ADC sum) to reassemble what the source row already held
side by side. No row-wise UDF anywhere; top-k is
TakeOrderedAndProject over the narrow projection — ZERO wide
shuffles in the serving path.

Driver build: every expression here is SQL text (``selectExpr`` /
``F.expr``), one py4j call per projection. On PySpark 4.1 each
``pyspark.sql.functions``/``Column`` call costs about 14 py4j round
trips (the call plus the active-session lookup, a conf read and the
call-site origin set), and the lambdas of ``_best_entry``/``_d2`` made
a few hundred of them per query. Codebooks and the per-round training
book are ``core.localframe.local_frame`` frames — a real
``LocalRelation`` (inline ``VALUES``), where ``spark.createDataFrame``
on a Python list is a ``LogicalRDD`` scan of a Python RDD that starts
Python workers in every job reading it (0.3-0.5 s per call for a
64-row codebook), and never an inline expression tree (inlining M*k
fold expressions made Catalyst analysis the dominant cost).

Reference scope: beyond-reference (no ANN in the reference); task
brief's similarity-search scale path.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.localframe import local_frame, sql_ident
from ..core.session import thread_target
from ..functions.text import portable_hash32_sql
from ..functions.vectors import micro_units_sql

_BOOK = "m int, code int, sub array<bigint>"
_LONG_MAX = (1 << 63) - 1


def _d2(a: str, b: str) -> str:
    """Exact integer squared L2 between two micro-unit sub-vectors
    (longs: |x| <= ~2e6 per component, so a 16-dim sum is bounded by
    16 * 1.6e13 << 2^63), as SQL text over the expressions ``a``/``b``."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            "CAST(0 AS BIGINT), (t, z) -> t + z)")


def _subspaces(vec: str, dim: int, m_sub: int) -> str:
    """array<struct<m int, sub array<long>>> — the vector ``vec`` (SQL
    text) split into its M contiguous subspaces."""
    sub_d = dim // m_sub
    return "array(" + ", ".join(
        f"named_struct('m', {m}, 'sub', slice({vec}, {m * sub_d + 1}, {sub_d}))"
        for m in range(m_sub)) + ")"


def _best_entry(s: str, bq: str) -> str:
    """``struct(d2, code, qd2)`` of the codebook entry nearest to
    subspace ``s`` — the narrow (per-row, shuffle-free) form of the
    per-(vector, subspace) argmin. ``bq`` is the one-row codebook
    array sorted by (m, code); ``least`` keeps the lexicographically
    smaller struct, so a d2 tie resolves to the smaller code id —
    identical semantics to the former ``min(struct(d2, code, qd2))``
    aggregation, with zero exchanges."""
    init = (f"named_struct('d2', CAST({_LONG_MAX} AS BIGINT), "
            "'code', CAST(-1 AS INT), 'qd2', CAST(0 AS BIGINT))")
    return (f"aggregate(filter({bq}, e -> e.m = {s}.m), {init}, "
            f"(acc, e) -> least(acc, named_struct('d2', {_d2(f'{s}.sub', 'e.sub')}, "
            "'code', e.code, 'qd2', e.qd2)))")


def _seed_entries(df: DataFrame, id_col: str, vec_col: str, dim: int,
                  m_sub: int, k_codes: int) -> list[tuple]:
    """The seeded codebook as driver rows ``(m, code, sub)``: entry
    ``code`` of every subspace is the sub-vector of the corpus row
    with rank ``code`` under (portable md5 of id, id). The ONE bounded
    driver collect is k rows (the kmeans-seed pattern)."""
    sub_d = dim // m_sub
    seeds = (df.selectExpr(f"{sql_ident(id_col)} AS _id",
                           f"{micro_units_sql(sql_ident(vec_col), dim)} AS _q")
             .selectExpr("_id", "_q", f"{portable_hash32_sql('_id')} AS _h")
             .orderBy("_h", "_id").limit(k_codes).collect())
    return [(m, code, list(r["_q"][m * sub_d:(m + 1) * sub_d]))
            for code, r in enumerate(seeds) for m in range(m_sub)]


def pq_codebook_df(spark: SparkSession, df: DataFrame,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = 64, m_sub: int = 4,
                   k_codes: int = 16) -> DataFrame:
    """Seeded codebook as an (m, code, sub) frame of M*k rows (see
    :func:`_seed_entries`) — deterministic and engine-portable;
    production swaps in per-subspace ``kmeans_model`` centroids under
    the same schema."""
    return local_frame(spark, _seed_entries(df, id_col, vec_col, dim,
                                            m_sub, k_codes), _BOOK)


def pq_trained_codebook_df(spark: SparkSession, df: DataFrame,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           dim: int = 64, m_sub: int = 4,
                           k_codes: int = 16,
                           iters: int = 1) -> DataFrame:
    """TRAINED codebook: per-subspace Lloyd k-means over the corpus
    sub-vectors, seeded from :func:`pq_codebook_df` — the production-
    quality codebook (Jégou et al. §III trains exactly this; the
    seeded variant is the determinism-doctrine fallback). Fully
    deterministic, no RNG:

    - assignment is the exact-integer squared-L2 argmin, ties to the
      smaller code id (the ADC rule);
    - the update is the component-wise rounded mean computed exactly:
      ``floor((2*sum + n) / (2*n))`` (round-half-up in pure integer
      arithmetic — replayable as a floor of an exactly-representable
      double while |2*sum + n| < 2^53, which micro-unit components at
      any tested corpus size guarantee);
    - a code that loses every member carries its previous entry (the
      Lloyd convention in ``operators/kmeans.py``).

    Scale shape per round (round-12 narrow rewrite, guide §2.4): the
    assignment is a per-row expression — each corpus row already
    holds all M of its sub-vectors, so the former explode +
    broadcast-join + corpus-wide ``groupBy(id, m)`` exchange computed
    per-row information the source row had side by side. One round is
    now ONE job whose only exchange is the (m, code, dim)-keyed
    partial-aggregated sum — key space M*k*sub_d, so the shuffle
    carries O(partitions * 1024) rows, never O(corpus) — and the
    driver holds only the M*k*sub_d update integers (1024 longs at
    the defaults). The round's codebook is a one-row ``local_frame``
    literal, so broadcasting it runs no job."""
    sub_d = dim // m_sub
    # the seed collect and the sub-vector checkpoint are INDEPENDENT
    # corpus scans — overlap them (optimization guide §2.6) instead of
    # idling through each job's tail; thread_target carries the
    # caller's job group/description/pool into the worker so
    # cancellation and UI labels still reach the seed job
    with ThreadPoolExecutor(max_workers=1) as pool:
        fut_seeds = pool.submit(
            thread_target(spark, _seed_entries), df, id_col, vec_col,
            dim, m_sub, k_codes)
        subs = (df.selectExpr(f"{micro_units_sql(sql_ident(vec_col), dim)} AS _q")
                .selectExpr(f"{_subspaces('_q', dim, m_sub)} AS _ss")
                .localCheckpoint(eager=True))  # reused every round
        entries = {(m, c): sub for m, c, sub in fut_seeds.result()}
    # no seed, nothing to train: an empty book must stay empty, not
    # gain the code -1 that the empty argmin assigns
    for _ in range(iters if entries else 0):
        # (m, code) is unique, so the sorted entry list is the order
        # sort_array(collect_list(struct(m, code, sub, qd2))) would give
        bq = local_frame(
            spark, [([(m, c, s, 0) for (m, c), s in sorted(entries.items())],)],
            "_bq array<struct<m:int,code:int,sub:array<bigint>,qd2:bigint>>")
        # narrow per-row assignment: argmin code per subspace, the
        # member's own sub-vector carried into the update for free
        sums = (subs.crossJoin(F.broadcast(bq))
                .selectExpr(f"explode(transform(_ss, s -> named_struct('m', s.m, "
                            f"'code', {_best_entry('s', '_bq')}.code, "
                            "'vsub', s.sub))) AS b")
                .selectExpr("b.m AS m", "b.code AS code",
                            "posexplode(b.vsub) AS (i, x)")
                .groupBy("m", "code", "i")
                .agg(F.expr("sum(x) AS s"), F.expr("count(1) AS n"))
                .collect())
        new: dict[tuple[int, int], list[int]] = {}
        for r in sums:
            key = (int(r["m"]), int(r["code"]))
            new.setdefault(key, [0] * sub_d)[int(r["i"])] = \
                (2 * int(r["s"]) + int(r["n"])) // (2 * int(r["n"]))
        for key, sub in entries.items():
            new.setdefault(key, sub)  # empty code: carry previous
        entries = new
    return local_frame(spark, [(m, c, s) for (m, c), s in sorted(entries.items())],
                       _BOOK)


def pq_topk(df: DataFrame, query: DataFrame, k: int = 10,
            dim: int = 64, m_sub: int = 4, k_codes: int = 16,
            id_col: str = "vec_id",
            vec_col: str = "embedding",
            codebook: str = "seeded",
            train_iters: int = 1) -> DataFrame:
    """ADC top-k: encode the corpus against the codebooks and rank
    by the summed per-subspace distance to ``query`` (1-row frame).
    Returns (id, codes 'c0-c1-..', adc_dist) — smallest distance
    first, id-tiebroken; every value exact, so the result (including
    quantization error) hash-matches a relational replay. An empty
    query or an empty codebook gives an empty result.

    ``codebook``: ``"seeded"`` (deterministic corpus-row seeds) or
    ``"trained"`` (:func:`pq_trained_codebook_df` — per-subspace
    Lloyd, ``train_iters`` rounds)."""
    spark = df.sparkSession
    if codebook == "trained":
        book = pq_trained_codebook_df(spark, df, id_col, vec_col, dim,
                                      m_sub, k_codes, iters=train_iters)
    elif codebook == "seeded":
        book = pq_codebook_df(spark, df, id_col, vec_col, dim, m_sub,
                              k_codes)
    else:
        raise ValueError(f"pq_topk: unknown codebook {codebook!r} "
                         "(seeded | trained)")
    qv = micro_units_sql(sql_ident(vec_col), dim)
    # query-to-codebook ADC table rides the codebook rows (M*k total),
    # folded into ONE broadcast row holding the (m, code)-sorted entry
    # array — the narrow encode below needs no join key. The global
    # aggregate yields one row with an EMPTY array when the query or
    # the codebook is empty; dropping that row (same plan, no extra
    # job) makes the result empty instead of every corpus row at
    # adc_dist 0 with code -1.
    qsub = (query.selectExpr(f"{qv} AS _q")
            .selectExpr(f"inline({_subspaces('_q', dim, m_sub)}) AS (m, qsub)"))
    bq = (book.join(qsub, "m")
          .selectExpr("m", "code", "sub", f"{_d2('sub', 'qsub')} AS qd2")
          .agg(F.expr("sort_array(collect_list(named_struct("
                      "'m', m, 'code', code, 'sub', sub, 'qd2', qd2))) AS _bq"))
          .filter("size(_bq) > 0"))
    # narrow encode (guide §2.4): per-subspace argmin, code string and
    # ADC sum are all functions of the single corpus row plus the
    # broadcast codebook — zero exchanges before the final top-k.
    # _subspaces emits subspaces in m order, so the codes string
    # matches the former array_sort(collect_list(struct(m, code))).
    out = (df.selectExpr(f"{sql_ident(id_col)} AS id", f"{qv} AS _q")
           .selectExpr("id", f"{_subspaces('_q', dim, m_sub)} AS _ss")
           .crossJoin(F.broadcast(bq))
           .selectExpr("id", f"transform(_ss, s -> {_best_entry('s', '_bq')}) AS _best")
           .selectExpr(f"id AS {sql_ident(id_col)}",
                       "array_join(transform(_best, b -> CAST(b.code AS STRING)), '-')"
                       " AS codes",
                       "aggregate(_best, CAST(0 AS BIGINT), (a, b) -> a + b.qd2)"
                       " AS adc_dist"))
    return out.orderBy("adc_dist", id_col).limit(k)
