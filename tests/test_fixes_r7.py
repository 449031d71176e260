"""Round-7 advisor fixes, pinned: IVF index cluster-id base parity
(spherical=False BLAS path vs probe_cells' 1-based convention),
snapshot_diff NULL-text presence semantics, case-insensitive
tracking-param stripping, and the quantile_bins approx scale
fence."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from serverless_podcast_etl_spark.functions.urls import canonical_url
from serverless_podcast_etl_spark.operators.dedup import snapshot_diff
from serverless_podcast_etl_spark.operators.selection import quantile_bins
from serverless_podcast_etl_spark.operators.similarity import (
    build_ivf_index,
    ivf_probe_topk,
)

# Unit-norm 2-D centroids: max-dot (spherical) and min-L2 (BLAS)
# assignment agree exactly, so the two build paths must produce the
# SAME probe results — which only holds if they share a cluster-id
# base.  Before the r7 fix the BLAS path was 0-based and probe cell i
# silently matched centroid i+1's rows.
_UNIT_CENTROIDS = [
    [1.0, 0.0],
    [0.0, 1.0],
    [-1.0, 0.0],
    [0.0, -1.0],
]


def _planted_vectors(spark):
    rows = []
    vid = 0
    for cx, cy in _UNIT_CENTROIDS:
        for jitter in (-0.05, 0.0, 0.05, 0.1):
            rows.append(
                Row(
                    vec_id=vid,
                    embedding=[cx + jitter * cy * 0 + jitter * 0.3,
                               cy + jitter * 0.2],
                )
            )
            vid += 1
    return spark.createDataFrame(rows)


def test_ivf_index_blas_path_matches_spherical(spark):
    """build_ivf_index(spherical=False) + ivf_probe_topk returns the
    same neighbors as the spherical=True index (unit-norm centroids
    make the two assignment rules equivalent)."""
    emb = _planted_vectors(spark)
    queries = emb.filter(F.col("vec_id") % 4 == 0)

    idx_sph = build_ivf_index(
        emb, id_col="vec_id", centroids=_UNIT_CENTROIDS, spherical=True
    )
    idx_blas = build_ivf_index(
        emb, id_col="vec_id", centroids=_UNIT_CENTROIDS, spherical=False
    )
    # both paths emit probe_cells' 1-based cell ids
    for idx in (idx_sph, idx_blas):
        cells = sorted(
            r["cluster"] for r in idx.select("cluster").distinct().collect()
        )
        assert cells == [1, 2, 3, 4]

    def _probe(index):
        return sorted(
            map(
                tuple,
                ivf_probe_topk(
                    queries,
                    index,
                    _UNIT_CENTROIDS,
                    query_id="vec_id",
                    k=5,
                    nprobe=1,
                ).collect(),
            )
        )

    got_sph, got_blas = _probe(idx_sph), _probe(idx_blas)
    assert got_sph == got_blas
    assert len(got_blas) > 0  # non-vacuous: the probe found neighbors


def test_snapshot_diff_null_text_presence(spark):
    """Presence comes from join-side markers, not md5 nullity: NULL
    text on one side of a present-in-both doc is 'changed', a doc
    with NULL text on BOTH sides is unchanged (not emitted), and
    added/removed classification ignores text nullity entirely."""
    old = spark.createDataFrame(
        [
            Row(doc_id=1, text=None),      # NULL -> text : changed
            Row(doc_id=2, text="x"),       # text -> NULL : changed
            Row(doc_id=3, text=None),      # NULL -> NULL : unchanged
            Row(doc_id=4, text="a"),       # only old     : removed
            Row(doc_id=6, text="same"),    # same text    : unchanged
        ],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [
            Row(doc_id=1, text="x"),
            Row(doc_id=2, text=None),
            Row(doc_id=3, text=None),
            Row(doc_id=5, text=None),      # only new (NULL!) : added
            Row(doc_id=6, text="same"),
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: r["status"]
        for r in snapshot_diff(
            old, new, id_col="doc_id", text_col="text"
        ).collect()
    }
    assert got == {1: "changed", 2: "changed", 4: "removed", 5: "added"}


def test_canonical_url_uppercase_tracking_params(spark):
    """UTM_SOURCE=a / FBCLID=x are tracking params regardless of
    case — the same emitters that upper-case hosts upper-case param
    names; values keep their case."""
    df = spark.createDataFrame(
        [
            ("https://ex.com/p?UTM_SOURCE=a&z=1",),
            ("https://ex.com/p?FBCLID=x&Gclid=y",),
            ("https://ex.com/p?REF=r&Refresh=1",),  # Refresh is NOT ref
        ],
        "url string",
    )
    got = [
        r["c"]
        for r in df.select(canonical_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [
        "https://ex.com/p?z=1",
        "https://ex.com/p",
        "https://ex.com/p?Refresh=1",
    ]


def test_quantile_bins_approx_fence(spark):
    """exact=False swaps the boundary pass to percentile_approx (the
    bounded-memory sketch) — on data whose quantiles are clean the
    bucket layout matches the exact form."""
    df = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(2000)], "id long, score double"
    )
    exact = quantile_bins(df, "score", probs=(0.25, 0.5, 0.75))
    approx = quantile_bins(
        df, "score", probs=(0.25, 0.5, 0.75), exact=False
    )
    exact_counts = {
        r["bucket"]: r["n"]
        for r in exact.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    approx_counts = {
        r["bucket"]: r["n"]
        for r in approx.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    assert set(exact_counts) == set(approx_counts) == {0, 1, 2, 3}
    # sketch boundaries land on data values; with 20 rows per distinct
    # value the per-bucket drift is bounded by one value's worth
    for b in exact_counts:
        assert abs(exact_counts[b] - approx_counts[b]) <= 20, (
            b, exact_counts, approx_counts,
        )
