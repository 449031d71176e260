"""Lexical (keyword) retrieval over text columns, and rank fusion.

The retrieval family elsewhere is dense (brute cosine → LSH → IVF
over embeddings, operators/similarity.py); this module adds the
sparse side — the classic inverted-index ranking a training-data
pipeline reaches for when there are no embeddings yet:
decontamination probes ("which corpus docs score highest against
this eval question"), target-corpus affinity checks, and plain
search over a crawl — plus the two production companions: a
PERSISTED inverted index (``write_bm25_index`` /
``bm25_probe_topk`` — build once, probe forever, term-pruned scans)
and ``rrf_fuse``, reciprocal-rank fusion of any N ranked lists
(the standard sparse+dense combiner; rank-only, so it composes
``bm25_topk`` with any ``similarity`` top-k unchanged).

Spark-first shape (the 100 TB story): the corpus is tokenized ONCE
into a postings frame ``(doc_id, term, tf, dl)``; document frequency
is a ``groupBy(term)`` whose shuffle the postings⋈df join then reuses
(same key — NOTES fact 19); the tiny query side broadcasts into the
term equi-join, so candidate volume is Σ_{t∈query} df(t) — only
documents sharing a query term are ever touched, never |Q|×|corpus|;
per-(query, doc) scores partial-aggregate map-side; top-k is a
per-query window.  Corpus-level scalars (N, avgdl) are one bounded
1-row collect inlined as literals.  NOTE the |Q| side of that sum:
with a stopword-dense vocabulary, every query term can touch a
posting list approaching |corpus| — query LOAD, not corpus size, is
what a caller scales by (measured: 1000 probes cost ~30× a 5-probe
batch at the same SF).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import word_tokens
from .scale import ensure_parallelism, materialize


def _idf(df_col: Column, n_docs: int, form: str) -> Column:
    """Per-term inverse document frequency.

    ``rational`` — ``(N + 1) / (df + 0.5)``: the module's certifiable
    default, following the q51 TF-IDF convention (NOTES fact 12:
    ``ln`` differs in the last ulp across runtimes, so a log-free form
    is what lets the whole ranking hash-match a DuckDB oracle).  It
    preserves BM25's defining parts — tf saturation and length
    normalization — but weights rare terms harder than the log form
    (idf grows linearly in N/df instead of logarithmically); fine for
    dedup/decontamination-style probes, documented for search uses.

    ``lucene`` — ``ln(1 + (N − df + 0.5) / (df + 0.5))``: the standard
    BM25+ idf for user-facing ranking; hypothesis-tested against a
    plain-Python twin but not oracle-certified (the ln caveat above).
    """
    if form == "rational":
        return F.lit(float(n_docs + 1)) / (df_col + F.lit(0.5))
    if form == "lucene":
        return F.log1p(
            (F.lit(float(n_docs)) - df_col + F.lit(0.5))
            / (df_col + F.lit(0.5))
        )
    raise ValueError(f"bm25_topk: unknown idf form {form!r}")


def bm25_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "rational",
) -> DataFrame:
    """Top-``k`` corpus documents per query by BM25 over whitespace
    word tokens (``functions.text.word_tokens`` — the engine's single
    tokenizer), ranked ``(query_id, neighbor_id, score, rank)``.

    score(q, d) = Σ_{t ∈ q ∩ d} idf(t) ·
                  tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Query terms are deduplicated IN the row (``array_distinct`` —
    NOTES fact 20), so repeated query words neither re-count nor
    re-shuffle; documents scoring 0 (no shared term) never appear.
    Ties break to the lower neighbor id (``row_number`` over
    score DESC, id ASC — the ANN convention), and the final score is
    rounded to 4 decimals in BOTH engines.

    PRECONDITION (shared id space, the ``ivf_topk`` convention): the
    self-match filter compares ``query_id`` to ``corpus_id`` AS
    VALUES — correct when queries are drawn from the corpus (the
    catalog shape); disambiguate ids (e.g. prefix one side) when the
    two tables are independent.

    Scale: see the module docstring — inverted-list equi-join on
    term, query side broadcast, candidates bounded by posting-list
    lengths, no cartesians.  A skew guard for stopword-heavy queries
    is the caller's ``k1``/stopword hygiene: a term with df ≈ N
    contributes ≈ idf_min per doc but costs a full posting-list scan,
    exactly as in any inverted index.
    """
    postings = build_bm25_index(corpus, corpus_id, text_col)
    stats = _corpus_stats(corpus, corpus_id, text_col)
    return _score_postings(
        postings, queries, query_id, text_col,
        n_docs=stats["n_docs"], total_dl=stats["total_dl"],
        k=k, k1=k1, b=b, idf=idf,
    )


def _corpus_stats(
    corpus: DataFrame, corpus_id: str, text_col: str
) -> dict:
    """Exact integer corpus stats: document count and total token
    length — one bounded 1-row collect.  Kept as INTS so a stamped
    index sidecar round-trips them losslessly; ``avgdl`` is derived
    the same way (``float(total)/n``) at every consumer."""
    row = (
        corpus.select(
            F.size(word_tokens(F.col(text_col))).alias("dl")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot"))
        .collect()[0]
    )
    return {"n_docs": int(row["n"]), "total_dl": int(row["tot"] or 0)}


def build_bm25_index(
    corpus: DataFrame, corpus_id: str, text_col: str = "text"
) -> DataFrame:
    """The BM25 postings frame ``(neighbor_id, dl, term, tf, df)`` —
    document frequency joined onto the postings at build time (the
    ``groupBy(term)`` shuffle is reused by the join back — same key,
    NOTES fact 19), so a PERSISTED index needs no corpus pass at probe
    time: probe = scan + query join + score."""
    toks = ensure_parallelism(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        word_tokens(F.col(text_col)).alias("_toks"),
    )
    postings = (
        toks.select(
            "neighbor_id", F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        .groupBy("neighbor_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    return postings.join(dfreq, "term")


def _score_postings(
    postings: DataFrame,
    queries: DataFrame,
    query_id: str,
    text_col: str,
    n_docs: int,
    total_dl: int,
    k: int,
    k1: float,
    b: float,
    idf: str,
) -> DataFrame:
    """Shared scoring tail (direct ``bm25_topk`` AND the persisted
    probe run exactly this plan over their postings source, so the two
    paths cannot drift): broadcast the deduped query terms into the
    term equi-join, sum contributions per pair, rank per query."""
    avgdl = float(total_dl) / max(n_docs, 1)
    qterms = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(
            F.array_distinct(word_tokens(F.col(text_col)))
        ).alias("term"),
    )
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    contrib = _idf(F.col("df"), n_docs, idf) * (
        F.col("tf") * F.lit(k1 + 1.0)
    ) / (F.col("tf") + F.lit(k1) * norm)
    scored = (
        postings.join(F.broadcast(qterms), "term")  # queries ≪ corpus
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k: int = 10,
    k_rrf: int = 60,
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists — the standard way to
    combine a sparse (BM25) and a dense (embedding) retriever without
    calibrating their incomparable score scales:

        rrf(q, d) = Σ_i 1 / (k_rrf + rank_i(q, d))

    with a document absent from system i contributing 0 for that term.
    Each input must carry ``(query_id, neighbor_id, <rank_col>)`` with
    ranks unique per (query, id) — the shape ``bm25_topk`` /
    ``similarity.brute_force_topk`` emit.  Returns
    ``(query_id, neighbor_id, rrf_score, rank)`` with the usual
    (score DESC, neighbor_id ASC) row_number ranking, top-``k``.

    Certifiability: the per-system rank lands in its own column (a
    ``max(when(system = i))`` pivot — integer max, order-free), and the
    fusion is ONE fixed-order expression ``t_0 + t_1 + …`` over those
    columns — no cross-row float aggregation anywhere, so the score is
    bit-identical across engines (the fact-12 concern never arises; a
    ``SUM`` over tagged rows would have reintroduced shuffle-order
    float addition).

    Scale: every input is already top-k-bounded (|Q|·k_i rows), so the
    union + pivot shuffle moves Σ|Q|·k_i rows — fusion cost is bounded
    by the QUERY load regardless of corpus size; the heavy lifting
    stays in the upstream retrievers.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    tagged = [
        r.select(
            "query_id",
            "neighbor_id",
            F.lit(i).alias("_sys"),
            F.col(rank_col).alias("_r"),
        )
        for i, r in enumerate(rankings)
    ]
    u = reduce(lambda a, b: a.unionByName(b), tagged)
    per_sys = u.groupBy("query_id", "neighbor_id").agg(
        *[
            F.max(F.when(F.col("_sys") == i, F.col("_r"))).alias(f"_r{i}")
            for i in range(len(rankings))
        ]
    )
    score: Column = F.lit(0.0)
    for i in range(len(rankings)):  # fixed fold order = the SQL twin's
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(float(k_rrf)) + F.col(f"_r{i}")),
            F.lit(0.0),
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("neighbor_id")
    )
    return (
        per_sys.withColumn("rrf_score", F.round(score, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rrf_score", "rank")
    )


_BM25_META = "_bm25_meta"
_BM25_TOKENIZER = "word_tokens/lower-ws-v1"


def write_bm25_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str,
    text_col: str = "text",
) -> dict:
    """Persist the BM25 inverted index — the sparse analog of
    ``similarity.write_trained_ivf_index``'s build-once/probe-forever
    contract: the postings frame (df embedded) is written
    ``repartitionByRange("term").sortWithinPartitions("term")`` so
    every parquet file covers a contiguous term range and a probe's
    ``term IN (...)`` pushdown skips whole files/row-groups via
    min/max stats; the exact-integer corpus stats (n_docs, total_dl)
    and the tokenizer tag are stamped in a metadata sidecar (written
    THROUGH Spark, so the index lives wherever the table does).
    Returns the stamped metadata dict.

    NO append operation exists, deliberately: document frequency is
    GLOBAL, so appending documents changes ``df`` (and n_docs/avgdl)
    for every EXISTING posting — unlike the trained IVF, where the
    frozen codebook makes append-under-stamp exact, there is no
    frozen-stat BM25 append that scores correctly.  Rebuild to absorb
    growth; ``trained_ivf``'s drift-report analog is unnecessary
    because staleness here is simply "the corpus changed".
    """
    import json

    stats = _corpus_stats(corpus, corpus_id, text_col)
    index = build_bm25_index(corpus, corpus_id, text_col)
    (
        index.repartitionByRange(F.col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )
    meta = {
        "n_docs": stats["n_docs"],
        "total_dl": stats["total_dl"],
        "tokenizer": _BM25_TOKENIZER,
    }
    spark = corpus.sparkSession
    # JVM-side 1-row literal frame (NOTES fact 23): createDataFrame
    # over local data pays a Python-worker launch per partition
    spark.range(1).select(
        F.lit(json.dumps(meta)).alias("v")
    ).coalesce(1).write.mode("overwrite").text(f"{path}/{_BM25_META}")
    return meta


def load_bm25_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Read-path stamp check (the ``load_trained_ivf_index``
    convention): return the postings frame plus the stamped stats,
    refusing an unreadable or foreign-tokenizer sidecar — probing with
    the wrong stats or a different tokenization silently returns
    wrong scores."""
    import json

    rows = spark.read.text(f"{path}/{_BM25_META}").collect()
    lines = [r["value"] for r in rows if r["value"].strip()]
    if len(lines) != 1:
        raise ValueError(
            f"BM25 metadata sidecar at {path}/{_BM25_META} holds "
            f"{len(lines)} non-empty lines (expected exactly 1) — "
            "index stamp unreadable; rebuild with write_bm25_index"
        )
    meta = json.loads(lines[0])
    if meta.get("tokenizer") != _BM25_TOKENIZER:
        raise ValueError(
            f"BM25 index at {path} was built with tokenizer "
            f"{meta.get('tokenizer')!r}, this engine scores with "
            f"{_BM25_TOKENIZER!r} — refusing to probe across "
            "tokenizations; rebuild with write_bm25_index"
        )
    return spark.read.parquet(path), meta


def bm25_probe_topk(
    queries: DataFrame,
    index: DataFrame,
    meta: dict,
    query_id: str,
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    idf: str = "rational",
    prune: bool = True,
) -> DataFrame:
    """BM25 top-k against a persisted ``write_bm25_index`` table — the
    production form: no corpus pass at probe time; the scoring plan is
    literally ``bm25_topk``'s shared tail (``_score_postings``), so a
    round-trip through parquet changes nothing the result hash can see
    (the q118 story, sparse edition).

    ``prune=True`` collects the distinct query terms — bounded by
    |Q| × query length, the same queries-≪-corpus contract the
    broadcast join already assumes — into a literal ``isin`` filter,
    which reaches the parquet scan as a pushed ``In(term, …)``: with
    the index range-partitioned and sorted on term, only the files/
    row-groups whose [min, max] term range intersects the query
    vocabulary are read off disk (the partition-pruning analog for a
    high-cardinality key).  Shares ``bm25_topk``'s id-space
    PRECONDITION.
    """
    if prune:
        # the queries frame feeds BOTH the vocabulary collect and the
        # scoring join below — pin it at the fork (fact 18, the
        # trained_ivf_probe_topk convention; bounded by contract)
        queries = materialize(queries)
        terms = [
            r["t"]
            for r in queries.select(
                F.explode(
                    F.array_distinct(word_tokens(F.col(text_col)))
                ).alias("t")
            )
            .distinct()
            .collect()  # bounded: query vocabulary
        ]
        index = index.filter(
            F.col("term").isin(terms) if terms else F.lit(False)
        )
    return _score_postings(
        index, queries, query_id, text_col,
        n_docs=int(meta["n_docs"]), total_dl=int(meta["total_dl"]),
        k=k, k1=k1, b=b, idf=idf,
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
    rel_col: str = "score",
    vec_col: str = "embedding",
    max_candidates: int = 2048,
) -> DataFrame:
    """Greedy maximal-marginal-relevance diversification of a
    retriever's per-query top-N: repeatedly select the candidate
    maximizing

        mmr(c) = lam·rel(c) − (1−lam)·max_{s ∈ selected} sim(c, s)

    (first pick: the max term over the empty set is 0, so pure
    relevance), emitting ``(query_col, id_col, mmr_score, rank)`` for
    the first ``k`` picks.  The standard answer to "my top-k is ten
    near-copies of the same document" — for training-data curation,
    the per-query form of SemDeDup-style diversity.

    EXACTNESS BY CONSTRUCTION (the fact-21 playbook, float edition):
    candidate similarity is cosine over the int8-QUANTIZED vectors
    (``similarity.quantize_embeddings_int8``'s certified formula), so
    every dot/norm is an order-free integer sum; the remaining
    arithmetic is single IEEE-754 operations on identical doubles —
    ``dot/sqrt(na·nb)`` (products < 2^53, hence exact),
    ``floor(cos·10⁴)/10⁴`` truncation (NOT round: floor is the same
    single op everywhere, immune to the banker's-vs-half-up split),
    then ``lam·rel − lam1·maxsim`` with ``lam``/``lam1`` passed as
    the same double literals to any SQL twin.  A k-step CTE unroll
    therefore hash-matches this kernel exactly (the q117 Lloyd-unroll
    precedent); ties break to the lower candidate id.

    Contract: ``rel_col`` must itself be cross-engine exact (a rounded
    certified score — e.g. q22's 4-dp cosine — or a rank-derived
    1/(60+rank)); candidates per query are a retriever's top-N,
    capped at ``max_candidates`` (the kernel builds an n×n integer
    Gram matrix per group — the cap refuses quadratic blowup the way
    ``EXACT_NEARDUP_MAX_ROWS`` does).

    Scale: one shuffle on ``query_col`` (the applyInPandas group
    exchange); each group is top-N-bounded so per-group work is
    O(N²·d) on an Arrow batch, independent of corpus size.  |Q| is
    the load knob (NOTES fact 24).
    """
    import numpy as np
    import pandas as pd

    from .similarity import quantize_embeddings_int8

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"mmr_rerank: lam must be in [0, 1], got {lam}")
    lam_d, lam1_d = float(lam), 1.0 - float(lam)

    q = quantize_embeddings_int8(
        candidates, id_col, vec_col, scale_col="_mmr_scale", q_col="_mmr_q"
    ).select(
        F.col(query_col).alias("_qid"),
        F.col(id_col).alias("_nid"),
        F.col(rel_col).cast("double").alias("_rel"),
        F.col("_mmr_q"),
    )

    out_schema = (
        f"{query_col} {candidates.schema[query_col].dataType.simpleString()}, "
        f"{id_col} {candidates.schema[id_col].dataType.simpleString()}, "
        "mmr_score double, rank int"
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_candidates:
            raise ValueError(
                f"mmr_rerank: {n} candidates in one query group exceeds "
                f"max_candidates={max_candidates} — pass a retriever top-N, "
                "not a corpus"
            )
        pdf = pdf.sort_values("_nid", kind="mergesort").reset_index(drop=True)
        if pdf["_mmr_q"].isna().any():
            bad = pdf.loc[pdf["_mmr_q"].isna(), "_nid"].tolist()[:5]
            raise ValueError(
                f"mmr_rerank: NULL {vec_col!r} for candidate ids {bad} — "
                "every candidate needs a vector (drop or impute upstream)"
            )
        codes = np.array(pdf["_mmr_q"].tolist(), dtype=np.int64)
        gram = codes @ codes.T  # exact int64: |dot| <= 127^2 * dim
        norms = np.diag(gram)
        denom = np.sqrt((norms[:, None] * norms[None, :]).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, gram / denom, 0.0)
        sim = np.floor(cos * 10000.0) / 10000.0
        rel = pdf["_rel"].to_numpy(dtype=np.float64)
        selected: list[int] = []
        scores: list[float] = []
        maxsim = None  # true max-sim to the selected set (may be < 0)
        taken = np.zeros(n, dtype=bool)
        for _ in range(min(k, n)):
            if maxsim is None:
                obj = lam_d * rel  # empty set: pure relevance
            else:
                obj = lam_d * rel - lam1_d * maxsim
            obj = np.where(taken, -np.inf, obj)
            pick = int(np.argmax(obj))  # ids ascending -> lowest id wins ties
            selected.append(pick)
            scores.append(float(obj[pick]))
            taken[pick] = True
            col = sim[:, pick]
            maxsim = col.copy() if maxsim is None else np.maximum(maxsim, col)
        return pd.DataFrame(
            {
                query_col: pdf["_qid"].iloc[selected].to_numpy(),
                id_col: pdf["_nid"].iloc[selected].to_numpy(),
                "mmr_score": np.array(scores, dtype=np.float64),
                "rank": np.arange(1, len(selected) + 1, dtype=np.int32),
            }
        )

    out = q.groupBy("_qid").applyInPandas(_greedy, schema=out_schema)
    # final rounding OUTSIDE the kernel, via Spark's F.round — the
    # rounding implementation already certified against DuckDB's
    # (numpy's scale-rint-rescale is a THIRD rounding path, and
    # lam=0.5 scores land on exact 5e-6 multiples constantly)
    return out.withColumn("mmr_score", F.round("mmr_score", 6))


def retrieval_agreement(
    rankings: dict[str, DataFrame],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Pairwise agreement diagnostics between retrieval systems — the
    eval panel a pipeline consults before swapping retrievers (the
    q62 recall-panel role, but deterministic and hence
    oracle-certifiable: every metric is integer-derived).  For each
    query and each unordered system pair (names compared
    lexicographically, ``system_a < system_b``):

    * ``n_common`` — |top-k(A) ∩ top-k(B)|,
    * ``overlap_at_k`` — n_common / k, rounded to 4,
    * ``mean_rank_shift`` — avg |rank_A − rank_B| over the shared
      ids, rounded to 4; NULL when the intersection is empty.

    Inputs are ``(query_id, neighbor_id, <rank_col>)`` frames, the
    shape every ``*_topk`` in this engine emits; rows with rank > k
    are ignored, so passing a wider ranking is safe.  Every (query,
    pair) row appears even at zero overlap — the scaffold is the
    distinct query ids × the literal pair list (JVM-side literals,
    NOTES fact 23).

    Scale: inputs are top-k-bounded, so the join moves Σ|Q|·k rows;
    the scaffold is |Q|·(#pairs).  |Q| is the load knob (fact 24).
    The tagged union feeds THREE consumers (the scaffold and both
    sides of the pair join), so it is materialized at the fork —
    without the checkpoint every upstream retriever re-executes three
    times (fact 18; measured as 3 copies of the dense arm's scorer in
    the executed plan).  The union is Σ|Q|·k rows by contract, so the
    materialization is trivially bounded.
    """
    if len(rankings) < 2:
        raise ValueError("retrieval_agreement: need at least two systems")
    names = sorted(rankings)
    tagged = [
        rankings[n]
        .filter(F.col(rank_col) <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.lit(n).alias("_sys"),
            F.col(rank_col).cast("long").alias("_r"),
        )
        for n in names
    ]
    u = materialize(reduce(lambda a, b: a.unionByName(b), tagged))

    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1 :]]
    pair_lits = F.array(
        *[
            F.struct(
                F.lit(a).alias("system_a"), F.lit(b).alias("system_b")
            )
            for a, b in pairs
        ]
    )
    scaffold = (
        u.select("query_id")
        .distinct()
        .select("query_id", F.explode(pair_lits).alias("_p"))
        .select("query_id", "_p.system_a", "_p.system_b")
    )

    a = u.select(
        "query_id", "neighbor_id",
        F.col("_sys").alias("system_a"), F.col("_r").alias("_ra"),
    )
    b = u.select(
        "query_id", "neighbor_id",
        F.col("_sys").alias("system_b"), F.col("_r").alias("_rb"),
    )
    common = (
        a.join(b, ["query_id", "neighbor_id"])
        .filter(F.col("system_a") < F.col("system_b"))
        .groupBy("query_id", "system_a", "system_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.abs(F.col("_ra") - F.col("_rb"))).alias("_shift"),
        )
    )
    return (
        scaffold.join(common, ["query_id", "system_a", "system_b"], "left")
        .select(
            "query_id",
            "system_a",
            "system_b",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce(F.col("n_common"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("overlap_at_k"),
            F.round(F.col("_shift") / F.col("n_common"), 4).alias(
                "mean_rank_shift"
            ),
        )
    )


def bm25_prf_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    query_id: str,
    corpus_id: str | None = None,
    text_col: str = "text",
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 10,
    alpha: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    index: DataFrame | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Two-pass BM25 with pseudo-relevance feedback (RM3-style query
    expansion): retrieve ``fb_docs`` per query, mine the feedback
    docs' strongest ``fb_terms`` terms, and rescore the corpus with
    the expanded weighted query —

        weight(t) = 1.0·[t ∈ original]  +  α·w(t)/w_max(q)

    where ``w(t) = round(Σ_{d ∈ FB(q)} tf(d,t) · idf(t), 4)`` (the
    rational idf — log-free, NOTES fact 12) and ``w_max`` is the
    per-query max over all feedback terms.  Final score is the
    weighted BM25 sum, rounded to 4, ranked (score DESC, id ASC).
    The standard fix for vocabulary mismatch — a probe that says
    "transformer" also pulls documents that say "attention".

    CERTIFIABILITY: both ranking stages rank on ROUNDED scores with
    id/term tiebreaks (the q120 convention), the expansion weights are
    rounded before use, and w_max is an order-free max over rounded
    values — so a DuckDB twin reproduces the whole two-pass pipeline
    hash-exactly (the only cross-row float sums are the q01-class
    scored aggregates, certified empirically).

    Pass ``index``/``meta`` from ``load_bm25_index`` to probe a
    PERSISTED index (the production path: the postings frame is read
    once from parquet and reused by all three consumers); otherwise
    the postings are built from ``corpus`` and materialized at the
    fork (fact 18 — pass-1 scoring, term mining and pass-2 scoring
    would each rebuild them).  Shares ``bm25_topk``'s shared-id-space
    PRECONDITION and |Q|-scaling contract (fact 24).
    """
    if index is not None:
        if meta is None:
            raise ValueError("bm25_prf_topk: meta is required with index")
        postings = index
        n_docs, total_dl = int(meta["n_docs"]), int(meta["total_dl"])
    else:
        if corpus is None or corpus_id is None:
            raise ValueError(
                "bm25_prf_topk: pass corpus+corpus_id or index+meta"
            )
        stats = _corpus_stats(corpus, corpus_id, text_col)
        n_docs, total_dl = stats["n_docs"], stats["total_dl"]
        # three consumers on different keys below -> materialize the
        # postings at the fork (facts 18/19)
        postings = materialize(build_bm25_index(corpus, corpus_id, text_col))

    fb = _score_postings(
        postings, queries, query_id, text_col,
        n_docs=n_docs, total_dl=total_dl,
        k=fb_docs, k1=k1, b=b, idf="rational",
    ).select("query_id", "neighbor_id")

    idf_col = _idf(F.col("df"), n_docs, "rational")
    mined = (
        postings.join(F.broadcast(fb), "neighbor_id")
        .groupBy("query_id", "term")
        .agg(F.round(F.sum(F.col("tf") * idf_col), 4).alias("_w"))
    )
    w_max = Window.partitionBy("query_id")
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("_w"), F.asc("term")
    )
    fbw = (
        mined.withColumn("_wmax", F.max("_w").over(w_max))
        .withColumn("_rn", F.row_number().over(w_rank))
        .filter(F.col("_rn") <= fb_terms)
        .select(
            "query_id",
            "term",
            F.round(
                F.lit(float(alpha)) * F.col("_w") / F.col("_wmax"), 4
            ).alias("_fbw"),
        )
    )
    orig = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(
            F.array_distinct(word_tokens(F.col(text_col)))
        ).alias("term"),
        F.lit(1.0).alias("_ow"),
    )
    combined = orig.join(fbw, ["query_id", "term"], "full").select(
        "query_id",
        "term",
        (
            F.coalesce(F.col("_ow"), F.lit(0.0))
            + F.coalesce(F.col("_fbw"), F.lit(0.0))
        ).alias("_weight"),
    )

    avgdl = float(total_dl) / max(n_docs, 1)
    norm = F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.lit(avgdl)
    contrib = F.col("_weight") * _idf(F.col("df"), n_docs, "rational") * (
        F.col("tf") * F.lit(k1 + 1.0)
    ) / (F.col("tf") + F.lit(k1) * norm)
    scored = (
        postings.join(F.broadcast(combined), "term")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum(contrib), 4).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
