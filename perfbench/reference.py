"""Unindexed reference pages for the benchmark's queries.

Words and phrases are scored by the pure-Python BM25 in
``streamworks_search_engine_spark.oracle`` over the generated rows;
``/regex/`` atoms are a full scan of every row's text with Python ``re``
(the generated patterns use only literals, ``\\w``, ``\\d``, escapes and
alternation, where Python and Java regex agree); ``sym:`` atoms are the
symbol table's definition pattern applied to every line. Nothing here
reads a structure the engine built, so a wrong index, route or merge
shows up as a page mismatch.
"""

from __future__ import annotations

import math
import re

from streamworks_search_engine_spark import oracle
from streamworks_search_engine_spark.functions.tokenizer import tokenize
from streamworks_search_engine_spark.sources.corpus import doc_id_of

from inputs import Query, definitions

K = 10
SNIPPET_RADIUS = 50


class Reference:
    def __init__(self, rows: list[dict]):
        self.idx = oracle.build_index(rows)
        self.text = {
            doc_id_of(r["repo"], r["path"], r["commit"]): r["content"] for r in rows
        }
        self.lang = {d: m["lang"] for d, m in self.idx.docs_dim.items()}

    @property
    def n_docs(self) -> int:
        return self.idx.n_docs

    def terms_of(self, row: dict) -> set[str]:
        return set(tokenize(row["content"], row["lang"]))

    def _grep_count(self, pattern: str) -> dict[int, float]:
        rx = re.compile(pattern)
        out = {}
        for d, t in self.text.items():
            n = sum(1 for line in t.split("\n") if rx.search(line))
            if n:
                out[d] = float(n)
        return out

    def _def_count(self, syms: tuple[str, ...]) -> dict[int, float]:
        want = set(syms)
        out = {}
        for d, t in self.text.items():
            n = sum(1 for s in definitions(t) if s in want)
            if n:
                out[d] = float(n)
        return out

    def page(self, q: Query, k: int = K) -> list[tuple[int, int, float]]:
        """[(rank, doc_id, score)] the engine must return for ``q``."""
        positives = list(q.terms) + list(q.phrase)
        regexes = list(q.regexes)
        syms = q.syms
        if positives:
            scored = {
                d: s for _, d, s in oracle.bm25_topk(
                    self.idx, positives, k=self.n_docs, mode="all"
                )
            }
        elif regexes:  # regex-led: matching-line count, like grep -c
            scored = self._grep_count(regexes.pop(0))
        elif syms:  # sym-led: definition count
            scored, syms = self._def_count(syms), ()
        else:
            return []
        keep = set(scored)
        for p in regexes:
            rx = re.compile(p)
            keep = {d for d in keep if rx.search(self.text[d])}
        if syms:
            keep &= set(self._def_count(syms))
        if q.phrase:
            keep &= oracle.phrase_docs(self.idx, list(q.phrase))
        for ex in oracle.normalize_query(list(q.excludes)):
            keep -= set(self.idx.postings.get(ex, {}))
        for key, val in q.fields:
            if key != "lang":
                raise ValueError(f"reference knows only lang: qualifiers, got {key}:")
            keep = {d for d in keep if self.lang[d] == val}
        ranked = sorted(((d, scored[d]) for d in keep), key=lambda x: (-x[1], x[0]))
        return [(i + 1, d, s) for i, (d, s) in enumerate(ranked[:k])]

    def snippet(self, q: Query, doc_id: int) -> tuple[str | None, str | None]:
        """(snippet, snippet_bold) for a page row: the window around the
        first case-insensitive occurrence of the query's first term."""
        term = oracle.normalize_query([q.terms[0]])[0]
        text = self.text[doc_id]
        pos = text.lower().find(term.lower())
        if pos < 0:
            return None, None
        start = max(0, pos - SNIPPET_RADIUS)
        snip = text[start : start + 2 * SNIPPET_RADIUS + len(term)]
        bold = re.sub(f"(?i)({re.escape(term)})", r"<b>\1</b>", snip)
        return snip, bold


def pages_equal(got: list[tuple], want: list[tuple]) -> bool:
    """Same ranks and doc_ids in order, scores equal to 1e-9 relative."""
    return len(got) == len(want) and all(
        g[0] == w[0] and g[1] == w[1] and math.isclose(g[2], w[2], rel_tol=1e-9, abs_tol=1e-12)
        for g, w in zip(got, want)
    )
