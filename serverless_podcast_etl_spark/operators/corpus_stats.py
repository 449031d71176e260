"""Corpus-level distribution statistics — novelty, source divergence,
collocations.

Three curation signals computed ACROSS documents (complementing the
in-row scores of functions/textstats.py):

- ``ngram_novelty_scores``: per-document fraction of its distinct
  n-grams that occur in no other document — high novelty separates
  original content from boilerplate/template pages (the inverse of
  the cross-doc duplication q66/q71 measure).
- ``source_divergence``: per-source total-variation distance between
  the source's token distribution and the corpus-wide one — the
  outlier-source detector a mixture designer reads before setting
  sampling weights (DoReMi-style pipelines compute exactly this
  family of per-domain distribution gaps).
- ``collocation_lift``: top-k bigram collocations by observed/expected
  frequency ratio (lift — the monotone rational twin of PMI, kept
  log-free so the DuckDB oracle hashes exactly; ADVICE fact 12).

All three are exact-integer until ONE final IEEE division per output
row, so the oracle comparison is hash-exact.  Intermediate products
are bounded by ``total_tokens * per_source_tokens`` (divergence) and
``total_tokens * pair_count`` (lift) — safe in BIGINT up to ~10^9
tokens per side; at trillion-token scale widen the two marked
products to decimal(38,0) (DuckDB: HUGEINT) before shipping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from . import dedup
from .scale import ensure_parallelism, local_frame, materialize


def ngram_novelty_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
) -> DataFrame:
    """(id, n_grams, novel_grams, novelty_rate) per document with at
    least one n-gram (shorter docs carry no evidence — the
    ``minhash_signatures`` domain contract).

    ``novelty_rate`` = fraction of the doc's DISTINCT n-grams whose
    corpus document-frequency is exactly 1.  Shape: the hashed shingle
    table (one row per distinct (doc, gram) — strings never
    materialize, see functions/hashing.py) is aggregated by gram for
    document frequency, joined back on gram, then re-aggregated by
    doc — two shuffles of the gram table plus one tiny doc-level
    shuffle, all map-side combinable.  The join keys the same column
    the aggregate just partitioned by, so Catalyst reuses the
    exchange; boilerplate-heavy gram skew is AQE skew-join territory,
    not a plan defect (df counting is insensitive to intra-key
    ordering).
    """
    sh = dedup.shingles(df, text_col=text_col, id_col=id_col, n=n)
    gram_df = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df")
    )
    return (
        sh.join(gram_df, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias(
                "novel_grams"
            ),
        )
        .select(
            id_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("novel_grams").cast("long").alias("novel_grams"),
            F.round(
                F.col("novel_grams").cast("double") / F.col("n_grams"), 6
            ).alias("novelty_rate"),
        )
    )


def source_divergence(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
) -> DataFrame:
    """(source, n_tokens, n_distinct_tokens, tv_divergence) per source,
    total-variation distance to the corpus-wide token distribution.

    TV(s) = ½ Σ_t |p_s(t) − p(t)| over the GLOBAL vocabulary.  Tokens
    absent from a source contribute Σ_absent p(t) = 1 − T_s/N (T_s =
    global count mass of the tokens the source DOES use), so the whole
    sum reduces to quantities over the source's own rows:

        TV(s) = ½ · ( S / (N_s·N)  +  1 − T_s/N )
        S     = Σ_present |c_st·N − c_t·N_s|          (exact BIGINT)

    — no sparse token×source union is ever materialized.  The
    (source, token) count table is localCheckpointed eagerly (it feeds
    the totals collect AND the returned plan — ADVICE fact 18), so the
    corpus explode + groupBy runs exactly once; everything after it is
    arithmetic over that (small) checkpointed table: re-aggregate by
    token for global counts, shuffle-join back on token, broadcast the
    per-source totals (≤ #sources rows), final tiny groupBy(source).
    The eager checkpoint makes this operator batch-only (a streaming
    divergence monitor belongs in streaming/curation.py, not here) and
    pins the totals to the same snapshot the main plan reads.
    The only divisions are the two in the final expression — the sums
    feeding them are exact integers, so the oracle hashes bit-equal.
    BIGINT bound: c_st·N ≤ N_s·N (see module docstring).
    """
    tok = ensure_parallelism(df).select(
        F.col(source_col).alias("source"),
        F.explode(word_tokens(F.col(text_col))).alias("token"),
    )
    # checkpoint at the fan-out (ADVICE 18): st feeds the bounded
    # totals collect below AND the returned plan — without the eager
    # checkpoint the corpus explode + (source, token) groupBy runs
    # twice, and the collected totals could diverge from the plan's
    # snapshot under non-deterministic upstream.
    st = materialize(
        tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c_st"))
    )
    tot = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    # ONE bounded collect (≤ #distinct sources rows — the operator
    # contract is a low-cardinality source/domain column, the same
    # contract as mixture weights) yields the per-source totals AND
    # the grand total, so no separate corpus pass computes either:
    # the totals re-enter the plan as a literal broadcast frame (the
    # q100 plan-literal pattern) and the main plan shuffles only the
    # (source, token) count table.
    per_rows = (
        st.groupBy("source")
        .agg(
            F.sum("c_st").alias("n_s"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .collect()
    )
    grand = sum(r["n_s"] for r in per_rows)
    per_source = F.broadcast(
        local_frame(
            df.sparkSession,
            [(r["source"], r["n_s"], r["n_distinct"]) for r in per_rows],
            "source string, n_s long, n_distinct long",
        )
    )
    joined = (
        st.join(tot, "token")
        .join(per_source, "source")
        .groupBy("source")
        .agg(
            F.first("n_s").alias("n_s"),
            F.first("n_distinct").alias("n_distinct"),
            F.sum(
                F.abs(
                    F.col("c_st") * F.lit(grand)
                    - F.col("c_t") * F.col("n_s")
                )
            ).alias("_s"),
            F.sum("c_t").alias("_t_mass"),
        )
    )
    return joined.select(
        "source",
        F.col("n_s").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct_tokens"),
        F.round(
            0.5
            * (
                F.col("_s").cast("double")
                / (F.col("n_s") * F.lit(grand)).cast("double")
                + 1.0
                - F.col("_t_mass").cast("double") / F.lit(float(grand))
            ),
            6,
        ).alias("tv_divergence"),
    ).orderBy(F.desc("tv_divergence"), "source")


def collocation_lift(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` bigram collocations by lift = p(xy)/(p(x)·p(y)) —
    observed co-occurrence over the independence expectation, the
    monotone rational form of PMI (same ranking, no ``log`` — kept
    out so the oracle hashes exactly; ADVICE fact 12).

    lift = c_xy·N / (c_x·c_y) with N = total token count (the
    standard single-stream lift convention).  Rows below
    ``min_count`` pair occurrences are cut BEFORE any join and that
    filtered bigram table carries the only broadcast hint; the
    bi×uni1 join output is corpus-dependent in size (vocabulary ×
    min_count), so it is deliberately NOT force-broadcast — AQE
    re-plans the second join as broadcast at runtime when the
    survivor set is small, and a pathological low-``min_count``
    corpus degrades to a shuffle join instead of a driver OOM.
    Deterministic output: ordered by (lift DESC, word1, word2),
    limited to ``top_k``.
    """
    bound = dedup._once(
        ensure_parallelism(df),
        id_col,
        word_tokens(F.col(text_col)),
        "_t",
    )
    # checkpoint the (vocab-sized) unigram aggregate at its fan-out
    # (ADVICE 18, the same fix source_divergence got): it feeds the
    # grand-total collect below AND both sides of the returned plan's
    # joins — without it the tokenize+explode+groupBy re-runs as a
    # separate job just to produce one number
    uni = materialize(
        bound.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = F.size("_t") - 1
    pairs = F.when(
        F.size("_t") >= 2,
        F.zip_with(
            F.slice("_t", 1, m),
            F.slice("_t", 2, m),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = (
        bound.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    # the bound frame now tokenizes exactly twice (unigram pass +
    # bigram pass); the grand total reads the checkpointed unigram
    # table, not the corpus
    grand = uni.agg(F.sum("c").alias("n")).collect()[0]["n"] or 0
    uni1 = uni.select(
        F.col("w").alias("w1"), F.col("c").alias("c1")
    )
    uni2 = uni.select(
        F.col("w").alias("w2"), F.col("c").alias("c2")
    )
    # only the min_count-filtered bigram side carries a broadcast
    # hint; the bi×uni1 join output is NOT re-hinted — its size is
    # corpus-dependent (vocabulary × min_count), and forcing it
    # driver-side risks OOM at a low min_count.  AQE re-plans the
    # second join as broadcast at runtime when the survivor set is
    # actually small; either way the (large) unigram table is never
    # shuffled beyond its own groupBy.
    return (
        F.broadcast(bi)
        .join(uni1, "w1")
        .join(uni2, "w2")
        .select(
            F.col("w1").alias("word1"),
            F.col("w2").alias("word2"),
            F.col("pair_count").cast("long").alias("pair_count"),
            F.round(
                (F.col("pair_count") * F.lit(grand)).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "word1", "word2")
        .limit(top_k)
    )
