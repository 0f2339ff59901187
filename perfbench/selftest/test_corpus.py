"""The seeded generator: determinism and agreement with the tokenizer."""

import hashlib
import json

from perfbench import corpus as gen
from xapian_spark.text.tokenizer import tokenize_with_positions


def _inputs(seed: int) -> str:
    """sha256 over the corpus parquet bytes and every generated query."""
    c = gen.generate(seed, 300)
    h = hashlib.sha256(c.to_parquet_bytes())
    h.update(json.dumps(
        [[q.shape, q.text, q.terms, q.negated, q.lang]
         for q in gen.interactive_queries(c, seed, 20)]
        + [gen.batches(c, seed, 2, 5)]
    ).encode())
    return h.hexdigest()


def test_same_seed_gives_identical_bytes():
    a, b = gen.generate(5, 300), gen.generate(5, 300)
    assert a.to_parquet_bytes() == b.to_parquet_bytes()
    assert _inputs(5) == _inputs(5)


def test_other_seed_differs():
    assert gen.generate(5, 300).to_parquet_bytes() != \
        gen.generate(6, 300).to_parquet_bytes()
    assert _inputs(5) != _inputs(6)


def test_emitted_terms_are_what_the_tokenizer_sees():
    c = gen.generate(9, 200)
    for row in c.rows:
        toks = [t for t, _ in tokenize_with_positions(row["content"])]
        assert toks == row["_terms"], row["docid"]


def test_queries_cover_every_shape_and_stratum():
    c = gen.generate(3, 2000)
    st = gen.strata(c)
    qs = gen.interactive_queries(c, 3, 10)
    assert [q.shape for q in qs[:5]] == list(gen.SHAPES)
    for q in qs:
        assert all(c.df[t] > 0 for t in q.terms + q.negated)
    shapes = [s for s, _ in gen.batches(c, 3, 4, 5)]
    assert shapes == ["selective", "hot", "selective", "hot"]
    sel, hot = gen.batches(c, 3, 2, 5)
    for terms in sel[1].values():
        assert terms[0] in st.rare and all(t in st.mid for t in terms[1:])
    for terms in hot[1].values():
        assert all(t in st.hot for t in terms)
