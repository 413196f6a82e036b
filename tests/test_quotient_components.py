"""Quotient-graph component labels vs the expanded-edge reference.

``ngram_jaccard_components`` / ``embedding_cosine_components`` (r8) run
connected components on the QUOTIENT graph — one node per distinct
content — and must emit member-level ``(node, comp)`` labels identical
to ``connected_components`` over the pair APIs' expanded edge sets, for
every path (collapsed at any cap, and direct). These fixtures plant the
adversarial structure the equivalence argument leans on: deep clone
clusters (cap-chunked expansion in the reference), edge-free clone
groups (intra-only components), empty-shingle / zero-norm clone groups
(must stay unlabeled), cross-cluster near-dup bridges, and singletons.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from esther_apache_spark_spark.operators import dedup as D
from esther_apache_spark_spark.operators.components import connected_components


def _labels(df) -> dict[int, int]:
    return {int(r["node"]): int(r["comp"]) for r in df.collect()}


def _cc_over_pairs(pairs) -> dict[int, int]:
    return _labels(
        connected_components(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )
    )


# --- n-gram Jaccard --------------------------------------------------------

NEAR_A = "the quick brown fox jumps over the lazy dog again and again"
# shares most 3-grams with NEAR_A (jaccard >= 0.5 bridge between clusters)
NEAR_B = "the quick brown fox jumps over the lazy dog again and again today"
UNIQUE_1 = "completely different text about spark catalyst optimizer internals"
UNIQUE_2 = "yet another unrelated document mentioning parquet row groups only"
SHORT = ""  # empty text -> zero shingles -> never pairs


@pytest.fixture(scope="module")
def ngram_docs(spark):
    rows = []
    # 7-deep clone cluster of NEAR_A (ids 1..7) — deeper than the test cap
    rows += [(i, NEAR_A) for i in range(1, 8)]
    # 3-deep clone cluster of NEAR_B (ids 11..13), bridged to A via jaccard
    rows += [(i, NEAR_B) for i in range(11, 14)]
    # edge-free clone pair (ids 21, 22): identical UNIQUE_1 — intra-only comp
    rows += [(21, UNIQUE_1), (22, UNIQUE_1)]
    # singleton (id 31): no duplicates, no near-dups
    rows += [(31, UNIQUE_2)]
    # empty-shingle clone pair (ids 41, 42): must stay unlabeled
    rows += [(41, SHORT), (42, SHORT)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_quotient_equals_expanded_and_direct(ngram_docs):
    quotient = _labels(
        D.ngram_jaccard_components(ngram_docs, collapse_exact=True)
    )
    # reference 1: CC over the collapsed pair API at a cap SMALLER than
    # the deepest clone cluster (chunked cliques + connector chains)
    expanded = _cc_over_pairs(
        D.ngram_jaccard_pairs(ngram_docs, collapse_exact=True, expand_cap=3)
    )
    # reference 2: CC over the direct (uncollapsed, uncapped) pair set
    direct = _cc_over_pairs(
        D.ngram_jaccard_pairs(ngram_docs, collapse_exact=False)
    )
    assert quotient == expanded == direct
    # structure sanity: A+B bridged into one cluster labeled min id 1;
    # the edge-free clone pair self-clusters at 21; empties unlabeled
    assert {quotient[i] for i in (*range(1, 8), 11, 12, 13)} == {1}
    assert quotient[21] == quotient[22] == 21
    assert 31 not in quotient and 41 not in quotient and 42 not in quotient


def test_ngram_components_direct_path_matches(ngram_docs):
    # collapse_exact=False inside the components API = plain CC over
    # direct pairs — same labels again
    assert _labels(
        D.ngram_jaccard_components(ngram_docs, collapse_exact=False)
    ) == _cc_over_pairs(D.ngram_jaccard_pairs(ngram_docs, collapse_exact=False))


# --- simhash ---------------------------------------------------------------

SIMHASH_KW = dict(band_bits=15)


def test_simhash_quotient_equals_expanded_and_direct(ngram_docs):
    quotient = _labels(
        D.simhash_components(
            ngram_docs, collapse_exact=True, max_hamming=8, **SIMHASH_KW
        )
    )
    expanded = _cc_over_pairs(
        D.simhash_candidates(
            ngram_docs, collapse_exact=True, max_bucket=3, **SIMHASH_KW
        ).filter(F.col("hamming") <= 8)
    )
    direct = _cc_over_pairs(
        D.simhash_candidates(
            ngram_docs, collapse_exact=False, **SIMHASH_KW
        ).filter(F.col("hamming") <= 8)
    )
    assert quotient == expanded == direct
    # full intra-membership: the EMPTY-text clone pair fingerprints
    # (all-ones tie pattern) at Hamming 0 and must cluster — exactly
    # where this modality differs from the shingle-qualified ngram twin
    assert quotient[41] == quotient[42]
    # clone clusters of NEAR_A / NEAR_B each cluster (Hamming 0 intra)
    assert len({quotient[i] for i in range(1, 8)}) == 1
    assert len({quotient[i] for i in (11, 12, 13)}) == 1


def test_simhash_components_direct_path_matches(ngram_docs):
    assert _labels(
        D.simhash_components(
            ngram_docs, collapse_exact=False, max_hamming=8, **SIMHASH_KW
        )
    ) == _cc_over_pairs(
        D.simhash_candidates(
            ngram_docs, collapse_exact=False, **SIMHASH_KW
        ).filter(F.col("hamming") <= 8)
    )


def test_simhash_components_ungated(ngram_docs):
    # max_hamming=None keeps every banded candidate — same labels as CC
    # over the raw candidate set
    assert _labels(
        D.simhash_components(ngram_docs, collapse_exact=True, **SIMHASH_KW)
    ) == _cc_over_pairs(
        D.simhash_candidates(ngram_docs, collapse_exact=False, **SIMHASH_KW)
    )


# --- embedding cosine ------------------------------------------------------


@pytest.fixture(scope="module")
def vec_docs(spark):
    va = [1.0, 0.0, 0.5, 0.25]
    vb = [0.9, 0.05, 0.55, 0.2]  # cosine(va, vb) ~ 0.996 — bridges
    far = [-1.0, 0.5, -0.5, 0.0]  # negative cosine vs va/vb
    far2 = [0.0, 0.0, 0.0, 1.0]  # cosine <= 0.22 vs every other vector
    zero = [0.0, 0.0, 0.0, 0.0]
    rows = []
    rows += [(i, va) for i in range(1, 8)]  # 7-deep clone cluster
    rows += [(i, vb) for i in range(11, 14)]  # bridged 3-deep cluster
    rows += [(21, far), (22, far)]  # edge-free identical pair
    rows += [(31, far2)]  # singleton
    rows += [(41, zero), (42, zero)]  # zero-norm clone pair: unlabeled
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_quotient_equals_expanded_and_direct(vec_docs):
    kw = dict(threshold=0.4, n_planes=2, n_tables=4, dim=4)
    quotient = _labels(
        D.embedding_cosine_components(vec_docs, collapse_exact=True, **kw)
    )
    expanded = _cc_over_pairs(
        D.embedding_cosine_dups(
            vec_docs, collapse_exact=True, max_bucket=3, **kw
        )
    )
    direct = _cc_over_pairs(
        D.embedding_cosine_dups(vec_docs, collapse_exact=False, **kw)
    )
    assert quotient == expanded == direct
    assert {quotient[i] for i in (*range(1, 8), 11, 12, 13)} == {1}
    assert quotient[21] == quotient[22] == 21
    assert 31 not in quotient and 41 not in quotient and 42 not in quotient


def test_embedding_components_threshold_above_one(vec_docs):
    # cosine can never exceed 1.0: no rep pairs AND no intra clusters —
    # the expanded path emits no edges, the quotient path no labels
    kw = dict(threshold=1.5, n_planes=2, n_tables=4, dim=4)
    assert (
        D.embedding_cosine_components(vec_docs, collapse_exact=True, **kw).count()
        == 0
    )
    assert (
        D.embedding_cosine_dups(
            vec_docs, collapse_exact=True, max_bucket=3, **kw
        ).count()
        == 0
    )

def test_quotient_labels_cross_edges_survive_empty_intra(spark):
    # ADVICE r8: the structural contract — groups connected by rep_pairs
    # cross edges must label their FULL member set even when
    # intra_members is empty (the degenerate threshold>1.0 shape where
    # a float-error pair survives the rerank). Before the fix the inner
    # join on gsz dropped every group.
    groups = spark.createDataFrame(
        [(1, "ka"), (5, "kb"), (9, "kc")], "_id long, _tkey string"
    )
    members = spark.createDataFrame(
        [(1, "ka"), (2, "ka"), (5, "kb"), (9, "kc"), (10, "kc")],
        "_tkey_id long, _tkey string",
    ).select(F.col("_tkey"), F.col("_tkey_id").alias("_mid"))
    rep_pairs = spark.createDataFrame([(1, 5)], "id_a long, id_b long")
    labels = _labels(
        D._quotient_labels(
            rep_pairs,
            groups,
            members,
            "_id",
            "_tkey",
            intra_members=members.limit(0),
        )
    )
    # cross-connected groups ka+kb label ALL their members with the rep
    # component (min rep id = 1); edge-free group kc has no intra
    # eligibility -> unlabeled
    assert labels == {1: 1, 2: 1, 5: 1}


def test_quotient_labels_edge_free_needs_intra(spark):
    # edge-free groups still require >= 2 INTRA-ELIGIBLE members: with
    # empty intra_members and no rep pairs, nothing is labeled.
    groups = spark.createDataFrame([(21, "kx")], "_id long, _tkey string")
    members = spark.createDataFrame(
        [("kx", 21), ("kx", 22)], "_tkey string, _mid long"
    )
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert (
        D._quotient_labels(
            empty_pairs, groups, members, "_id", "_tkey",
            intra_members=members.limit(0),
        ).count()
        == 0
    )
    # and with intra eligibility present, the pair forms its own comp
    labels = _labels(
        D._quotient_labels(empty_pairs, groups, members, "_id", "_tkey")
    )
    assert labels == {21: 21, 22: 21}
