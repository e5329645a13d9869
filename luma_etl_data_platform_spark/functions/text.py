"""Text-analysis column library for training-data pipelines.

All functions are pure ``pyspark.sql`` Column expressions (JVM-side,
codegen'd, no UDFs) and — deliberately — are built on *portable*
primitives (``md5``, ``regexp_extract_all``, higher-order array
functions) that DuckDB evaluates identically, so every operator
downstream (dedup, fingerprinting, LSH) is verifiable against a SQL
oracle bit-for-bit.

Beyond-reference surface: the reference (an ERP ETL tool) has no text
operators; these are the language-ID / quality / tokenization /
fingerprint layer a 100-TB document pipeline needs (task brief).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = r"\w+"

# Marker stopwords per language for the n-gram/stopword-profile
# language-ID heuristic. Deliberately small & explicit so the SQL
# oracle states the identical lists.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column) -> Column:
    """Lowercased word tokens (BPE-ish regex tokenizer baseline)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles. Empty array when the document has
    fewer than ``n`` tokens (guarded — Spark's ``sequence(1, 0)``
    would otherwise count DOWN)."""
    t = tokens(col)
    make = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(F.size(t) >= n, F.array_distinct(make)).otherwise(
        F.array().cast("array<string>")
    )


def portable_hash32(col: Column, seed: int | Column = 0) -> Column:
    """Deterministic 32-bit hash identical across engines:
    first 8 hex chars of md5(seed ':' value), parsed base-16.
    DuckDB equivalent: CAST('0x' || substr(md5(seed || ':' || x), 1, 8) AS BIGINT).
    """
    seed_col = F.lit(seed) if isinstance(seed, int) else seed
    payload = F.concat(seed_col.cast("string"), F.lit(":"), col.cast("string"))
    return F.conv(F.substring(F.md5(payload), 1, 8), 16, 10).cast("long")


def portable_hash32_sql(col: str, seed: int = 0) -> str:
    """:func:`portable_hash32` as Spark SQL text over the column (or
    SQL expression) ``col``, for builders that assemble a whole
    projection in one ``selectExpr`` call."""
    return (f"CAST(conv(substring(md5(concat(CAST({int(seed)} AS STRING), ':', "
            f"CAST({col} AS STRING))), 1, 8), 16, 10) AS BIGINT)")


def portable_hash32_py(value, seed: int = 0) -> int:
    """Driver-side twin of :func:`portable_hash32` — the SAME md5
    payload ``"{seed}:{value}"`` and 8-hex-char truncation, so probe
    derivation (e.g. hidden-partitioning bucket pruning) can never
    diverge from what executors wrote. ``value`` must already be in
    Spark's cast-to-string form: pass only ``int`` or ``str`` (floats
    and bools stringify differently between Python and Spark — reject
    or normalize them BEFORE calling)."""
    if not isinstance(value, (int, str)) or isinstance(value, bool):
        raise TypeError(
            f"portable_hash32_py: value must be int or str, got "
            f"{type(value).__name__} (float/bool stringification "
            "differs between Python and Spark)")
    import hashlib as _hashlib
    return int(_hashlib.md5(f"{seed}:{value}".encode("utf-8"))
               .hexdigest()[:8], 16)


def fingerprint(col: Column) -> Column:
    """Content fingerprint of the normalized token stream (whitespace/
    case/punctuation-insensitive document identity)."""
    return F.md5(F.concat_ws(" ", tokens(col)))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    t = tokens(col)
    sw = F.size(F.filter(t, lambda x: x.isin(*stopwords)))
    return F.when(F.size(t) > 0, sw / F.size(t)).otherwise(F.lit(0.0))


def avg_token_len(col: Column) -> Column:
    t = tokens(col)
    total = F.aggregate(F.transform(t, F.length), F.lit(0), lambda acc, x: acc + x)
    return F.when(F.size(t) > 0, total / F.size(t)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: length component (capped
    at 100 tokens), stopword-profile component, and word-shape
    component (avg token length capped at 8). Deterministic arithmetic
    only — reproducible in any engine.

    Carried as ONE exact-integer quotient: with L = min(wc, 100),
    C = min(chars, 8*wc), the composite
    ``0.5*L/100 + 0.25*sw/wc + 0.25*C/(8*wc)`` equals
    ``(8*L*wc + 400*sw + 50*C) / (1600*wc)`` exactly, and the 6-dp
    emission is ``round(num*1e6/den)/1e6`` — a single 0-dp round of
    an integer-over-integer quotient, engine-identical. The previous
    ``round(x, 6)`` of the float composite hits exact decimal
    half-ways on real documents (e.g. wc=128 with odd sw) and its
    last-ulp behavior diverges between Spark and DuckDB (the r9
    sf0.1-tier bug class)."""
    t = tokens(col)
    wc = F.size(t)
    sw = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    chars = F.aggregate(F.transform(t, F.length), F.lit(0),
                        lambda acc, x: acc + x)
    num = ((F.least(wc, F.lit(100)).cast("long") * wc * 8
            + sw.cast("long") * 400
            + F.least(chars, wc * 8).cast("long") * 50)
           * F.lit(1_000_000))
    return F.when(wc > 0,
                  F.round(num.cast("double")
                          / (wc.cast("double") * 1600.0))
                  / F.lit(1_000_000.0)).otherwise(F.lit(0.0))


def stopword_ratio_6dp(col: Column) -> Column:
    """:func:`stopword_ratio` emitted to 6 dp through the
    exact-integer micro trick (``round(sw*1e6/wc)/1e6``) — for
    oracle-compared outputs; comparisons should use the raw ratio."""
    t = tokens(col)
    wc = F.size(t)
    sw = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    return F.when(wc > 0,
                  F.round(sw.cast("double") * 1_000_000.0
                          / wc.cast("double"))
                  / F.lit(1_000_000.0)).otherwise(F.lit(0.0))


def avg_token_len_6dp(col: Column) -> Column:
    """:func:`avg_token_len` emitted to 6 dp through the
    exact-integer micro trick — for oracle-compared outputs."""
    t = tokens(col)
    wc = F.size(t)
    total = F.aggregate(F.transform(t, F.length), F.lit(0),
                        lambda acc, x: acc + x)
    return F.when(wc > 0,
                  F.round(total.cast("double") * 1_000_000.0
                          / wc.cast("double"))
                  / F.lit(1_000_000.0)).otherwise(F.lit(0.0))


def lang_marker_counts(col: Column) -> dict[str, Column]:
    t = tokens(col)
    return {
        lang: F.size(F.filter(t, lambda x: x.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Argmax language by marker-word count; ties break alphabetically
    (en < es < fr), 'und' when no marker matches. Expressed as an
    explicit CASE chain so the SQL oracle can state the identical
    decision procedure."""
    counts = lang_marker_counts(col)
    c_en, c_es, c_fr = counts["en"], counts["es"], counts["fr"]
    return (
        F.when((c_en >= c_es) & (c_en >= c_fr) & (c_en > 0), F.lit("en"))
        .when((c_es >= c_fr) & (c_es > 0), F.lit("es"))
        .when(c_fr > 0, F.lit("fr"))
        .otherwise(F.lit("und"))
    )


def winnow_fingerprints(df, text_col: str, id_col: str,
                        k: int = 5, w: int = 4):
    """Winnowing document fingerprints (the MOSS algorithm): hash
    every k-gram, then keep the MINIMUM hash of each sliding window
    of ``w`` consecutive k-grams. Guarantees: any shared substring of
    length ≥ k + w - 1 between two documents yields at least one
    shared fingerprint, while storing only ~2/(w+1) of the hashes —
    the rolling-hash fingerprint family the plain md5 ``fingerprint``
    (whole-document identity) cannot provide.

    Plan shape: posexplode k-grams → window min over (doc, position)
    — one shuffle on the document id, no self-joins; output is the
    DISTINCT fingerprint set per document. Hashes are the portable
    md5 derivation, so a SQL oracle reproduces them exactly.

    Returns (id_col, fp) — one row per distinct fingerprint.
    """
    from pyspark.sql.window import Window as W
    t = tokens(F.col(text_col))
    grams = F.when(
        F.size(t) >= k,
        F.transform(F.sequence(F.lit(1), F.size(t) - (k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(t, i, k))),
    ).otherwise(F.array().cast("array<string>"))
    pos = (df.select(F.col(id_col), F.posexplode(grams).alias("pos", "g"))
           .select(id_col, "pos", portable_hash32(F.col("g")).alias("h")))
    win = (W.partitionBy(id_col).orderBy("pos")
           .rowsBetween(0, w - 1))
    # min over the NEXT w hashes at each position; positions within
    # w-1 of the end see a short window — dropped (they duplicate
    # earlier windows' minima candidates but would change the set).
    n_grams = W.partitionBy(id_col)
    fps = (pos
           .withColumn("_n", F.count(F.lit(1)).over(n_grams))
           .withColumn("_wmin", F.min("h").over(win))
           .filter(F.col("pos") <= F.col("_n") - w)
           .select(id_col, F.col("_wmin").alias("fp"))
           .distinct())
    return fps


def repetition_ratio(col: Column, n: int = 3) -> Column:
    """Within-document repetition score in [0,1): share of n-gram
    occurrences that are repeats of an earlier n-gram —
    ``1 - distinct/total``. High values flag boilerplate/spam docs
    (the standard repetition quality filter). 0.0 for docs shorter
    than ``n`` tokens."""
    t = tokens(col)
    total = F.size(t) - (n - 1)
    distinct = F.size(shingles(col, n))
    return F.when(total > 0,
                  F.round(F.lit(1.0) - distinct / total, 6)).otherwise(F.lit(0.0))
