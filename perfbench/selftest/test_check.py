"""The oracle check accepts the true answer and flags wrong ones."""

import pytest

from perfbench.check import Oracle, check_hits, check_ranked
from perfbench.corpus import Query

TEXTS = {
    1: "alpha beta gamma",
    2: "alpha alpha delta",
    3: "beta gamma gamma gamma epsilon",
    4: "alpha beta",
    5: "zeta eta theta alpha",
}
LANGS = {1: "c", 2: "py", 3: "c", 4: "go", 5: "py"}


@pytest.fixture(scope="module")
def oracle():
    return Oracle(TEXTS, LANGS)


def _truth(oracle, terms, op="or"):
    scores = oracle.index.bm25_scores(terms, op=op)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(i + 1, d, s) for i, (d, s) in enumerate(ranked)]


def test_true_answer_passes(oracle):
    q = Query("or", "alpha gamma", ["alpha", "gamma"])
    assert oracle.check_query(q, _truth(oracle, q.terms), 10) == []
    q = Query("and", "alpha AND beta", ["alpha", "beta"])
    assert oracle.check_query(q, _truth(oracle, q.terms, "and"), 10) == []


def test_perturbed_score_is_flagged(oracle):
    got = _truth(oracle, ["alpha", "gamma"])
    r, d, s = got[1]
    got[1] = (r, d, s * (1 + 1e-6))
    assert check_ranked(got, oracle.index.bm25_scores(["alpha", "gamma"]),
                        10)


def test_swapped_docid_is_flagged(oracle):
    got = _truth(oracle, ["alpha", "gamma"])
    (r0, d0, s0), (r1, d1, s1) = got[0], got[1]
    assert s0 != s1
    got[0], got[1] = (r0, d1, s0), (r1, d0, s1)
    assert check_ranked(got, oracle.index.bm25_scores(["alpha", "gamma"]),
                        10)


def test_truncated_answer_is_flagged(oracle):
    got = _truth(oracle, ["alpha"])
    assert check_ranked(got[:-1], oracle.index.bm25_scores(["alpha"]), 10)


def test_hit_set_shapes(oracle):
    assert oracle.phrase_docs("beta", "gamma") == {1, 3}
    assert oracle.docs_with("Lpy") == {2, 5}
    q = Query("andnot", "alpha NOT beta", ["alpha"], negated=["beta"])
    assert oracle.check_query(q, [(1, 2, 1.0), (2, 5, 0.5)], 10) == []
    assert oracle.check_query(q, [(1, 2, 1.0), (2, 4, 0.5)], 10)
    assert oracle.check_query(q, [(1, 2, 1.0)], 10)  # a match is missing
    assert check_hits([(1, 5, 1.0)], {2, 5}, 1) == []


def test_batch_check(oracle):
    qs = {"a": ["alpha"], "b": ["gamma", "beta"]}
    rows = [("a",) + r for r in _truth(oracle, ["alpha"])]
    rows += [("b",) + r for r in _truth(oracle, ["gamma", "beta"])]
    assert oracle.check_batch(qs, rows, 10) == []
    assert oracle.check_batch(qs, rows[1:], 10)
    assert oracle.check_batch(qs, rows + [("c", 1, 1, 1.0)], 10)
