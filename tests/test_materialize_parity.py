"""``incremental_neardup_admission`` is the one operator that keeps a
lazy mode (the streaming admission gate re-plans it every micro-batch):
``materialize=True`` (the shingle arrays pinned at their fan-out
through ``scale.materialize``, NOTES facts 18/19) and
``materialize=False`` must return row-identical results, with and
without a plugged band index.  The LSH bucket self-join's
broadcast-vs-shuffle plan switch is held to the same dual.

Directed parity checks on a corpus built to exercise every branch
(near-dup pairs above and below the verify threshold, stop-shingles
above the df cap, a shingle-less doc)."""

from __future__ import annotations

import pytest

from serverless_podcast_etl_spark.operators import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "en"),
        (2, base + " tail drift", "en"),                     # near-dup of 1
        (3, "completely different words entirely here now ok", "en"),
        (4, "the quick brown fox", "de"),                    # contained in 1
        (5, base.replace("lazy", "sleepy"), "de"),           # near-dup of 1
        (6, "short", "en"),                                  # shingle-less
        (7, "boiler plate boiler plate boiler plate boiler", "de"),
    ] + [
        # df-cap fodder: one shared boilerplate shingle across many docs
        (100 + i, f"common shared boilerplate ngram run {i}", "en")
        for i in range(8)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_admission_parity(corpus):
    new = corpus.filter("doc_id >= 100 or doc_id in (2, 5)")
    old = corpus.filter("doc_id < 100 and doc_id not in (2, 5)")
    kw = dict(text_col="text", id_col="doc_id", n=2, num_hashes=8,
              bands=4, verify_threshold=0.2)
    a = _rows(dedup.incremental_neardup_admission(
        new, old, materialize=True, **kw))
    b = _rows(dedup.incremental_neardup_admission(
        new, old, materialize=False, **kw))
    assert a == b
    # at least one rejection: docs 2/5 near-dup doc 1 in the corpus
    rejected = [r for r in a if r[2] == 0]
    assert len(rejected) >= 1


def test_admission_parity_with_plugged_index(corpus):
    """corpus_bands path: the corpus side must stay LAZY under
    materialize=True (no full-corpus checkpoint) yet agree with the
    self-signing form."""
    new = corpus.filter("doc_id in (2, 5)")
    old = corpus.filter("doc_id not in (2, 5)")
    kw = dict(text_col="text", id_col="doc_id", n=2, num_hashes=8,
              bands=4, verify_threshold=0.2)
    idx = dedup.minhash_bands(old, "text", "doc_id", n=2, num_hashes=8,
                              bands=4)
    a = _rows(dedup.incremental_neardup_admission(
        new, old, materialize=True, corpus_bands=idx, **kw))
    b = _rows(dedup.incremental_neardup_admission(
        new, old, materialize=True, **kw))
    assert a == b


def test_embedding_neardup_broadcast_vs_shuffle_parity(spark):
    """ADVICE r12: the LSH bucket self-join's broadcast hint gained an
    opt-out (``broadcast_candidates=False`` restores the shuffle
    bucket-join for corpora too large to broadcast).  Both plan shapes
    must emit the identical pair set — same dual the materialize knobs
    keep."""
    import random

    from serverless_podcast_etl_spark.operators import similarity

    rng = random.Random(7)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((2 * i, base))
        # near-dup partner for every even id → pairs above threshold
        rows.append((2 * i + 1, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    kw = dict(id_col="vec_id", vec_col="embedding", planes=planes,
              threshold=0.98)
    bcast = _rows(similarity.embedding_neardup_pairs(
        df, broadcast_candidates=True, **kw))
    shuf = _rows(similarity.embedding_neardup_pairs(
        df, broadcast_candidates=False, **kw))
    assert bcast == shuf and bcast
