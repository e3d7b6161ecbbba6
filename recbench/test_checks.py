"""Tests of the benchmark's own checks and generators (no Spark needed):

    python3 -m pytest recbench/test_checks.py -q
"""

from __future__ import annotations

import filecmp

import numpy as np
import pytest

import checks
import gen

K = 5


@pytest.fixture(scope="module")
def scored():
    rng = np.random.default_rng(0)
    ids = np.arange(100)
    scores = np.round(rng.standard_normal(100), 6)
    want_ids, want_scores = gen.topk(ids, scores, K)
    return ids, scores, list(want_ids), list(want_scores)


def test_exact_answer_passes(scored):
    ids, scores, want_ids, want_scores = scored
    tally = checks.Tally()
    assert tally.record("op", checks.check_topk(want_ids, want_scores, ids, scores, K))
    assert (tally.attempted, tally.failed) == (1, 0)


def test_swapped_ranks_count_as_failed(scored):
    ids, scores, want_ids, want_scores = scored
    got_ids, got_scores = want_ids[:], want_scores[:]
    got_ids[0], got_ids[1] = got_ids[1], got_ids[0]
    got_scores[0], got_scores[1] = got_scores[1], got_scores[0]
    tally = checks.Tally()
    tally.record("op", checks.check_topk(got_ids, got_scores, ids, scores, K))
    assert (tally.attempted, tally.failed) == (1, 1)
    # the approximate-answer check also rejects an out-of-order list
    assert checks.check_valid_subset(got_ids, got_scores, ids, scores, K)


def test_wrong_or_short_answers_fail(scored):
    ids, scores, want_ids, want_scores = scored
    assert checks.check_topk(want_ids[:-1], want_scores[:-1], ids, scores, K)
    wrong = want_ids[:-1] + [int(np.argmin(scores))]
    assert checks.check_topk(wrong, want_scores, ids, scores, K)
    assert checks.check_topk(want_ids, [s + 1e-3 for s in want_scores], ids, scores, K)


def test_near_tie_may_swap():
    ids = np.array([3, 7, 9])
    scores = np.array([0.5, 0.5 - 1e-6, 0.1])
    assert not checks.check_topk([7, 3], [0.499999, 0.5], ids, scores, 2)


def test_self_match_and_bad_compare_fail():
    assert checks.check_excludes(["a", "b"], "a")
    assert not checks.check_excludes(["a", "b"], "c")
    truth = np.array([[1.0, 0.25], [0.25, 1.0]])
    good = [{"id_a": a, "id_b": b, "score": truth[i, j]} for i, a in enumerate("xy") for j, b in enumerate("xy")]
    assert not checks.check_compare(good, ["x", "y"], truth)
    asym = [dict(r, score=0.3) if (r["id_a"], r["id_b"]) == ("x", "y") else r for r in good]
    assert checks.check_compare(asym, ["x", "y"], truth)


def test_recall():
    assert checks.recall([1, 2, 3, 4], [1, 2, 5, 6]) == 0.5


def test_catalog_is_seeded_and_consistent(tmp_path):
    a = gen.make_catalog(3, str(tmp_path / "a"), n_products=20, n_reviews=120)
    b = gen.make_catalog(3, str(tmp_path / "b"), n_products=20, n_reviews=120)
    for f in ("reviews.csv", "review_embeddings.npy"):
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)
    assert a.products["n_reviews"].sum() == 120
    assert np.allclose(np.linalg.norm(a.product_vecs, axis=1), 1.0)
    # the reference layout: nulls in ratings, quoted multi-line bodies
    assert a.reviews["reviews.rating"].isna().any()
    assert a.reviews["reviews.text"].str.contains("\n").any()


def test_hybrid_at_alpha_one_is_vector_search(tmp_path):
    from vector_database_product_recommendation_spark.functions.text import STOPWORDS_EN

    cat = gen.make_catalog(4, str(tmp_path), n_products=30, n_reviews=150)
    cat.fit_tfidf(STOPWORDS_EN)
    mask = cat.candidates()
    h_ids, h_scores = cat.hybrid_scores("kindle battery light", mask, 1.0)
    v_ids, v_scores = cat.search_scores("kindle battery light", mask)
    assert list(gen.topk(h_ids, h_scores, K)[0]) == list(gen.topk(v_ids, v_scores, K)[0])


def test_corpus_truth_is_exact(tmp_path):
    cor = gen.make_corpus(5, str(tmp_path), n=300, n_clusters=4, n_queries=6, k=K)
    s = cor.vecs @ cor.queries.T
    for j in range(6):
        assert set(cor.truth[j]) == set(np.argsort(-s[:, j])[:K])
