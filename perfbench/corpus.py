"""Seeded "codelike" corpus and query generator (FIXTURES.md §1, §2.4).

Every document is synthetic source text: statements built from a
Zipf-distributed identifier pool, plus deliberately skew-heavy tokens
(``int``, ``return``, ``license``, the header boilerplate) that every
real code corpus has.  The generator records, as it emits, the term
sequence each document should tokenize to; from that it keeps its own
rank table (document frequency per term) and the adjacent pairs it
emitted.  Queries are drawn from that rank table by frequency stratum
(rare, mid, hot) -- never read back from the engine's index.

The same seed gives byte-identical corpus parquet and queries.
"""

from __future__ import annotations

import hashlib
import io
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

LANGS = ["c", "cpp", "py", "java", "go", "rs", "js", "txt"]
EXT = {"c": "c", "cpp": "cc", "py": "py", "java": "java", "go": "go",
       "rs": "rs", "js": "js", "txt": "txt"}
TYPES = ["int", "void", "char", "long", "bool", "auto"]
# word parts identifiers are made of (snake_case or CamelCase joins)
PARTS = (
    "get set add del put read write open close load save parse emit scan "
    "find make init free copy move sort merge split join push pop peek "
    "send recv pack unpack encode decode flush reset start stop run wait "
    "lock unlock hash map list tree node edge path file dir buf str byte "
    "char word line page block chunk frame packet token term doc index "
    "query score rank count size len cap max min sum avg total delta base "
    "head tail next prev left right root leaf key value item entry field "
    "user name id type kind mode state flag opt conf ctx env log err msg "
    "src dst input output reader writer stream cursor iter range slice "
    "table row col cell cache pool queue stack heap set graph vertex "
    "client server conn socket addr port host url http json xml csv "
    "time date clock timer tick epoch seed rand salt mask bits shift"
).split()
VOCAB = 20_000  # identifier pool size
ZIPF_S = 1.05  # identifier frequency ~ 1 / (rank + 2.7) ** ZIPF_S
MEAN_STMTS = 11.0  # statements per document, Poisson
HEADER = (
    "copyright {year} org{org} licensed under the apache license version "
    "2.0 see the license file"
).split()


@dataclass
class Corpus:
    """Generated documents plus the generator's own term bookkeeping."""

    rows: list[dict]
    df: Counter = field(default_factory=Counter)  # term -> docs emitting it
    bigrams: Counter = field(default_factory=Counter)  # adjacent term pairs

    @property
    def n_docs(self) -> int:
        return len(self.rows)

    def texts(self) -> dict[int, str]:
        return {r["docid"]: r["content"] for r in self.rows}

    def content_bytes(self) -> int:
        return sum(len(r["content"].encode("utf-8")) for r in self.rows)

    def to_parquet_bytes(self) -> bytes:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = ["docid", "repo", "path", "commit", "lang", "content"]
        table = pa.table({c: [r[c] for r in self.rows] for c in cols})
        buf = io.BytesIO()
        pq.write_table(table, buf, row_group_size=max(1, len(self.rows) // 8))
        return buf.getvalue()

    def write_parquet(self, path: str) -> None:
        with open(path, "wb") as f:
            f.write(self.to_parquet_bytes())


def _identifier_pool(rng: np.random.Generator, size: int) -> list[str]:
    """`size` distinct identifiers; distinct after lowercasing too, so each
    identifier is exactly one index term."""
    reserved = set(TYPES) | set(LANGS) | set(HEADER) | {
        "return", "if", "for", "static", "const", "include", "import", "use",
        "require", "fn", "def", "func", "h",
    }
    seen: set[str] = set()
    pool: list[str] = []
    while len(pool) < size:
        k = 2 + int(rng.integers(0, 2))
        parts = [PARTS[i] for i in rng.integers(0, len(PARTS), size=k)]
        if rng.random() < 0.5:
            name = "_".join(parts)
        else:
            name = parts[0] + "".join(p.capitalize() for p in parts[1:])
        low = name.lower()
        if low in seen or low in reserved:
            continue
        seen.add(low)
        pool.append(name)
    return pool


class _Emitter:
    """Accumulates one document's text and the term sequence it should
    tokenize to."""

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.terms: list[str] = []

    def line(self, text: str, terms: list[str]) -> None:
        self.lines.append(text)
        self.terms.extend(t.lower() for t in terms)


def generate(seed: int, n_docs: int) -> Corpus:
    """Generate `n_docs` codelike documents from `seed`."""
    rng = np.random.default_rng(seed)
    pool = _identifier_pool(rng, VOCAB)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    cdf = np.cumsum(1.0 / (ranks + 2.7) ** ZIPF_S)
    cdf /= cdf[-1]

    def idents(n: int) -> list[str]:
        return [pool[i] for i in np.searchsorted(cdf, rng.random(n))]

    corpus = Corpus(rows=[])
    for i in range(n_docs):
        lang = LANGS[i % len(LANGS)]
        em = _Emitter()
        if rng.random() < 0.7:
            year, org = 2010 + int(rng.integers(0, 15)), i % 7
            words = [w.format(year=year, org=org) for w in HEADER]
            em.line(
                f"// Copyright {year} org{org}. Licensed under the Apache "
                "License, Version 2.0; see the license file.", words,
            )
        for a in idents(1 + int(rng.integers(0, 3))):
            if lang in ("c", "cpp"):
                em.line(f"#include <{a}.h>", ["include", a, "h"])
            elif lang == "rs":
                em.line(f"use {a};", ["use", a])
            elif lang != "txt":
                em.line(f"import {a}", ["import", a])
        for _ in range(1 + int(rng.poisson(MEAN_STMTS))):
            a, b, c, d = idents(4)
            ty = TYPES[int(rng.integers(0, len(TYPES)))]
            shape = int(rng.integers(0, 6))
            if lang == "txt":
                em.line(f"{a} {b}, {c} {d}.", [a, b, c, d])
            elif shape == 0:
                em.line(f"    {ty} {a} = {b}({c}, {d});", [ty, a, b, c, d])
            elif shape == 1:
                em.line(f"    return {a}({b});", ["return", a, b])
            elif shape == 2:
                em.line(f"    if ({a} > {b}) {{ {c}({d}); }}",
                        ["if", a, b, c, d])
            elif shape == 3:
                em.line(
                    f"    for ({ty} {a} = 0; {a} < {b}; {a} += 1) {{",
                    ["for", ty, a, "0", a, b, a, "1"],
                )
            elif shape == 4:
                em.line(f"    {a}.{b}({c});", [a, b, c])
            else:
                n = int(rng.integers(1, 100))
                em.line(f"    static const {ty} {a} = {n};",
                        ["static", "const", ty, a, str(n)])
        docid = i + 1
        corpus.rows.append({
            "docid": docid,
            "repo": f"org{i % 7}/proj{i % 23}",
            "path": f"src/mod{i % 41}/file{i}.{EXT[lang]}",
            "commit": hashlib.sha1(f"{seed}:{i}".encode()).hexdigest(),
            "lang": lang,
            "content": "\n".join(em.lines) + "\n",
            "_terms": em.terms,
        })
        corpus.df.update(set(em.terms))
        corpus.bigrams.update(zip(em.terms, em.terms[1:]))
    return corpus


@dataclass
class Strata:
    """The generator's rank table cut into frequency strata."""

    rare: list[str]
    mid: list[str]
    hot: list[str]


def strata(corpus: Corpus) -> Strata:
    n = corpus.n_docs
    words = sorted(
        (t for t in corpus.df if not t[0].isdigit()),
        key=lambda t: (-corpus.df[t], t),
    )
    hot = words[:12]
    mid_lo, mid_hi = max(3, n // 200), max(6, n // 25)
    rare_hi = max(3, n // 1000)
    mid = [t for t in words if mid_lo <= corpus.df[t] <= mid_hi]
    rare = [t for t in words if 2 <= corpus.df[t] <= rare_hi]
    if not (hot and mid and rare):
        raise ValueError(f"corpus of {n} docs too small for query strata")
    return Strata(rare=rare, mid=mid, hot=hot)


# interactive query shapes, in the order they cycle
SHAPES = ("or", "and", "andnot", "phrase", "filter")


@dataclass
class Query:
    """One interactive query: its string and what the oracle needs."""

    shape: str
    text: str
    terms: list[str]  # positive terms, in query order
    negated: list[str] = field(default_factory=list)
    lang: str | None = None


def interactive_queries(corpus: Corpus, seed: int, n: int) -> list[Query]:
    """`n` query strings cycling through SHAPES, drawn by stratum."""
    rng = np.random.default_rng([seed, 1])
    st = strata(corpus)
    # phrase candidates: adjacent identifier pairs emitted at least twice
    pairs = sorted(
        (a, b) for (a, b), c in corpus.bigrams.items()
        if c >= 2 and a != b and not a[0].isdigit() and not b[0].isdigit()
        and corpus.df[a] < corpus.n_docs // 4
    )
    if not pairs:
        raise ValueError("corpus emitted no repeated adjacent pairs")

    def pick(xs: list, k: int = 1) -> list:
        return [xs[j] for j in rng.choice(len(xs), size=k, replace=False)]

    out: list[Query] = []
    for i in range(n):
        shape = SHAPES[i % len(SHAPES)]
        if shape == "or":
            terms = pick(st.mid, 1 + int(rng.integers(1, 3))) + pick(st.rare)
            out.append(Query(shape, " ".join(terms), terms))
        elif shape == "and":
            a, b = pick(st.hot)[0], pick(st.mid)[0]
            out.append(Query(shape, f"{a} AND {b}", [a, b]))
        elif shape == "andnot":
            a, b = pick(st.mid)[0], pick(st.hot)[0]
            out.append(Query(shape, f"{a} NOT {b}", [a], negated=[b]))
        elif shape == "phrase":
            a, b = pairs[int(rng.integers(0, len(pairs)))]
            out.append(Query(shape, f'"{a} {b}"', [a, b]))
        else:
            a = pick(st.mid)[0]
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            out.append(Query(shape, f"{a} lang:{lang}", [a], lang=lang))
    return out


# batch shapes, alternating
BATCH_SHAPES = ("selective", "hot")


def batches(corpus: Corpus, seed: int, n_batches: int,
            size: int) -> list[tuple[str, dict[str, list[str]]]]:
    """`n_batches` (shape, {qname: terms}) batches, shapes alternating.

    selective: one rare term plus 1-3 mid-frequency terms per query;
    hot: 1-4 of the top-frequency terms per query."""
    rng = np.random.default_rng([seed, 2])
    st = strata(corpus)
    out = []
    for b in range(n_batches):
        shape = BATCH_SHAPES[b % len(BATCH_SHAPES)]
        qs: dict[str, list[str]] = {}
        for q in range(size):
            if shape == "selective":
                rare = st.rare[int(rng.integers(0, len(st.rare)))]
                mids = rng.choice(len(st.mid), size=1 + int(rng.integers(0, 3)),
                                  replace=False)
                terms = [rare] + [st.mid[j] for j in mids]
            else:
                hot = rng.choice(len(st.hot), size=1 + int(rng.integers(0, 4)),
                                 replace=False)
                terms = [st.hot[j] for j in hot]
            qs[f"b{b}q{q}"] = terms
        out.append((shape, qs))
    return out
