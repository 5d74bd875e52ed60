"""Seeded inputs: the corpus split, the queries of each class and the
ingest batch. Everything here is pure Python and a function of the seed
alone, so two generations with one seed are identical (selftest.py checks
it).

A query is a :class:`Query`: the string the engine receives plus the
structured parts it was composed from, which the reference
(reference.py) evaluates without parsing the string.
"""

from __future__ import annotations

import itertools
import random
import re
from dataclasses import dataclass, field, replace

from streamworks_search_engine_spark.operators.symbols import SYMBOL_DEF_RE
from streamworks_search_engine_spark.sources.corpus import generate_corpus

CLASSES = ("word", "phrase", "regex_sel", "regex_broad", "sym", "mixed", "page")
INGEST_CLASSES = ("word", "regex_broad", "mixed")

# Broad regex atoms: ``int (a|b)`` on hot identifier heads. Its candidate
# bound is 25-45% of the corpus for every seed, so plan_regex routes it to
# the index where a scan would be cheaper; ``return (a|b)`` would sit on
# the 50% scan cutoff and change route with the seed. A class's query
# always has the same shape, so seeds change the corpus and the picks,
# not the mix of query costs.
_BROAD_HEADS = ("parse", "index", "token", "query", "hash", "score")

_DEF = re.compile(SYMBOL_DEF_RE)
_LITERAL = re.compile(r'"([a-z]+_\d+)"')


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    terms: tuple[str, ...] = ()
    phrase: tuple[str, ...] = ()
    excludes: tuple[str, ...] = ()
    fields: tuple[tuple[str, str], ...] = ()
    regexes: tuple[str, ...] = ()
    syms: tuple[str, ...] = ()
    snippets: bool = False


@dataclass
class Inputs:
    base: list[dict]
    batch: list[dict] = field(default_factory=list)


def text_bytes(rows: list[dict]) -> int:
    return sum(len(r["content"].encode("utf-8")) for r in rows)


def corpus(seed: int, base_bytes: int, batch_bytes: int = 0) -> Inputs:
    """One ``generate_corpus`` draw cut into a base and a doc-disjoint batch
    of exactly these text sizes (file sizes vary tenfold, so a fixed file
    count would make the work depend on the seed). The last file of each
    is cut short: build and append costs are mostly per Spark job, so a
    batch that overshot by a whole file would move the per-MB figures by
    up to a tenth. Paths carry the file index, so no two rows share a
    doc_id."""
    want = base_bytes + batch_bytes
    rows = iter(generate_corpus(want // 1000, seed=seed))  # files average ~2 KB

    def take(n_bytes: int) -> list[dict]:
        out, size = [], 0
        while size < n_bytes:
            r = next(rows)
            body = r["content"].encode("utf-8")[:n_bytes - size]
            out.append({**r, "content": body.decode("utf-8", "ignore")})
            size += len(out[-1]["content"].encode("utf-8"))
        return out

    return Inputs(base=take(base_bytes), batch=take(batch_bytes) if batch_bytes else [])


def definitions(content: str) -> list[str]:
    """Symbols a file defines, one per definition line (the symbol table's
    extraction pattern, applied per line)."""
    out = []
    for line in content.split("\n"):
        m = _DEF.match(line)
        if m:
            out.append(m.group(2))
    return out


def _compose(q: Query) -> str:
    parts = list(q.terms)
    if q.phrase:
        parts.append('"' + " ".join(q.phrase) + '"')
    parts += [f"{k}:{v}" for k, v in q.fields]
    parts += [f"-{x}" for x in q.excludes]
    parts += [f"/{p}/" for p in q.regexes]
    parts += [f"sym:{s}" for s in q.syms]
    return " ".join(parts)


def _make(cls: str, **parts) -> Query:
    q = Query(cls=cls, text="", **parts)
    return replace(q, text=_compose(q))


class QueryMaker:
    """Draws candidate queries of each class from the corpus rows and keeps
    those whose reference page is non-empty, so every timed query does the
    work of producing a real page."""

    def __init__(self, rows: list[dict], ref, seed: int):
        self.rows = sorted(rows, key=lambda r: r["path"])
        self.ref = ref
        self.rng = random.Random(seed * 7919 + 1)
        # generate_corpus draws identifiers and comments from a few dozen
        # words, each in most files: word queries match most of the corpus
        self.vocab = sorted(t for t in ref.idx.postings if t.isalpha())
        counts: dict[str, int] = {}
        for r in self.rows:
            for s in definitions(r["content"]):
                counts[s] = counts.get(s, 0) + 1
        self.top_syms = [
            s for s, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        ][:20]
        self.literal_rows = [
            (r, lits) for r in self.rows if (lits := _LITERAL.findall(r["content"]))
        ]

    def _word(self) -> Query:
        return _make("word", terms=(self.rng.choice(self.vocab),))

    def _phrase(self) -> Query | None:
        from streamworks_search_engine_spark.functions.tokenizer import tokenize

        row = self.rng.choice(self.rows)
        toks = tokenize(row["content"], row["lang"])
        if len(toks) < 2:  # a file cut short by corpus()
            return None
        i = self.rng.randrange(len(toks) - 1)
        absent = [t for t in self.vocab if t not in set(toks)]
        if not absent:
            return None
        return _make(
            "phrase", phrase=(toks[i], toks[i + 1]), fields=(("lang", row["lang"]),),
            excludes=(self.rng.choice(absent),),
        )

    def _regex_sel(self) -> Query:
        _, lits = self.rng.choice(self.literal_rows)
        return _make("regex_sel", regexes=(self.rng.choice(lits),))

    def _regex_broad(self) -> Query:
        a, b = self.rng.sample(_BROAD_HEADS, 2)
        return _make("regex_broad", regexes=(f"int ({a}|{b})",))

    def _sym(self) -> Query:
        return _make("sym", syms=(self.rng.choice(self.top_syms),))

    def _mixed(self) -> Query | None:
        row = self.rng.choice(self.rows)
        defs = definitions(row["content"])
        doc_terms = [t for t in self.vocab if t in self.ref.terms_of(row)]
        pats = [f"int ({a}|{b})" for a, b in itertools.combinations(_BROAD_HEADS, 2)]
        pats = [p for p in pats if re.search(p, row["content"])]
        if not (defs and doc_terms and pats):
            return None
        return _make(
            "mixed", terms=(self.rng.choice(doc_terms),),
            regexes=(self.rng.choice(pats),), syms=(self.rng.choice(defs),),
        )

    def _page(self) -> Query:
        return replace(self._word(), cls="page", snippets=True)

    def draw(self, cls: str) -> Query:
        """A query of class ``cls`` with a non-empty reference page."""
        make = getattr(self, f"_{cls}")
        for _ in range(200):
            q = make()
            if q is not None and self.ref.page(q):
                return q
        raise RuntimeError(f"no {cls} query with a non-empty page for this corpus")


def class_queries(maker: QueryMaker, classes: tuple[str, ...]) -> list[Query]:
    """One query of each class, drawn in class order."""
    return [maker.draw(c) for c in classes]
