"""Answer checks against the independent brute-force oracle
(tests/oracle.py `BruteForceIndex`).  Every check returns a list of
problems; an empty list means the answer is correct."""

from __future__ import annotations

import math

from tests.oracle import BruteForceIndex

TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


def check_ranked(got: list[tuple[int, int, float]],
                 scores: dict[int, float], k: int) -> list[str]:
    """`got` = [(rank, docid, score)] against the oracle's full score map
    over the matching docs.  Rank by rank, the score must equal the
    oracle's score at that rank, and each docid's score must be its own
    oracle score (docs with equal scores may trade places)."""
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    errs = []
    if len(got) != len(want):
        errs.append(f"{len(got)} hits, oracle has {len(want)}")
    if [r for r, _, _ in got] != list(range(1, len(got) + 1)):
        errs.append(f"ranks not 1..n: {[r for r, _, _ in got]}")
    seen = set()
    for (rank, docid, score), (_, wscore) in zip(got, want):
        if docid in seen:
            errs.append(f"docid {docid} repeated")
        seen.add(docid)
        if not _close(score, wscore):
            errs.append(f"rank {rank}: score {score!r}, oracle {wscore!r}")
        elif docid not in scores or not _close(score, scores[docid]):
            errs.append(f"rank {rank}: docid {docid} scores "
                        f"{scores.get(docid)!r} in the oracle, not {score!r}")
    return errs


def check_hits(got: list[tuple[int, int, float]], matching: set[int],
               k: int) -> list[str]:
    """Hit-set check for queries whose scores the oracle does not model:
    every hit matches, and there are min(k, |matching|) of them."""
    errs = []
    ids = [d for _, d, _ in got]
    if len(ids) != min(k, len(matching)):
        errs.append(f"{len(ids)} hits, {len(matching)} docs match")
    if len(set(ids)) != len(ids):
        errs.append("repeated docid")
    bad = [d for d in ids if d not in matching]
    if bad:
        errs.append(f"hits that do not match: {bad[:5]}")
    return errs


class Oracle:
    """Brute-force index of a generated corpus, with the predicates the
    interactive query shapes need."""

    def __init__(self, texts: dict[int, str], langs: dict[int, str]):
        self.index = BruteForceIndex(
            texts, bool_terms={d: ["L" + lang] for d, lang in langs.items()}
        )
        self.langs = langs

    def docs_with(self, term: str) -> set[int]:
        return set(self.index.postings.get(term, {}))

    def phrase_docs(self, a: str, b: str) -> set[int]:
        pos = self.index.positions
        out = set()
        for d in self.docs_with(a) & self.docs_with(b):
            follow = set(pos.get((b, d), ()))
            if any(p + 1 in follow for p in pos.get((a, d), ())):
                out.add(d)
        return out

    def check_query(self, q, got, k: int) -> list[str]:
        """Check one interactive query's (rank, docid, score) rows."""
        if q.shape in ("or", "and"):
            scores = self.index.bm25_scores(q.terms, op=q.shape)
            return check_ranked(got, scores, k)
        if q.shape == "andnot":
            match = self.docs_with(q.terms[0]) - self.docs_with(q.negated[0])
        elif q.shape == "phrase":
            match = self.phrase_docs(*q.terms)
        elif q.shape == "filter":
            match = self.docs_with(q.terms[0]) & self.docs_with("L" + q.lang)
        else:
            raise ValueError(f"unknown query shape {q.shape}")
        return check_hits(got, match, k)

    def check_batch(self, queries: dict[str, list[str]], rows,
                    k: int) -> list[str]:
        """Check search_batch_or rows (query, rank, docid, score)."""
        by_q: dict[str, list] = {q: [] for q in queries}
        errs = []
        for r in rows:
            if r[0] not in by_q:
                errs.append(f"answer for unknown query {r[0]}")
                continue
            by_q[r[0]].append((r[1], r[2], r[3]))
        for q, terms in queries.items():
            got = sorted(by_q[q])
            errs += [f"{q}: {e}" for e in check_ranked(
                got, self.index.bm25_scores(terms), k)]
        return errs

    def n_terms(self) -> int:
        return len(self.index.postings)

    @property
    def n_docs(self) -> int:
        return self.index.N
