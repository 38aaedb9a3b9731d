"""Seeded query pools, the closed-loop mix, and the answer checker.

Query classes and the forms that make them up:

  topk       ``search("a b")`` OR; ``search("a b", mode="AND")``;
             ``query("+a b")`` MUST + SHOULD; ``query("a b -c")`` MUST_NOT;
             ``query("a b c")`` query-string OR
  head       ``search("t")`` for the highest-df terms (on ``turns`` their df
             crosses the impact-sidecar threshold, so the sidecar answers)
  phrase     ``phrase("a b", slop=s)``; ``query('"a b"~s')``
  fullmatch  ``search_facets``; ``search_facet_range``;
             ``export_matches(...).count()``; ``search_collapse``

Every answer is compared with ``OracleIndex`` over the same corpus: ranked
answers by score (relative 1e-6) and by each returned doc's own oracle
score, so ties may come back in any order the scores allow; full-match
answers exactly, from the oracle's match set.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from parser_indexer_spark.analyze import tokenize_py
from parser_indexer_spark.querystring import parse_query

from enginebench.corpora import Corpus, phrase_oracle

K = 10
EXTRA = 20           # oracle depth past k, so tied boundary docs can match
REL_TOL = 1e-6
CLASSES = ("topk", "head", "phrase", "fullmatch")
# one cycle of the mix, classes interleaved; the same in every run, so that
# runs differ only in the terms the seed draws
CYCLE = ("topk", "head", "phrase", "topk", "fullmatch", "head", "topk",
         "phrase", "fullmatch")


@dataclass
class Query:
    cls: str
    form: str
    text: str
    slop: int = 0
    expected: object = None
    terms: tuple = field(default=())

    def plan(self, ix, corpus: Corpus):
        """The engine call; returns the lazy DataFrame it builds."""
        f = self.form
        if f == "or" or f == "head":
            return ix.search(self.text, k=K)
        if f == "and":
            return ix.search(self.text, k=K, mode="AND")
        if f in ("must", "not", "qs-or", "qs-phrase"):
            return ix.query(self.text, k=K)
        if f == "phrase":
            return ix.phrase(self.text, k=K, slop=self.slop)
        if f == "facets":
            return ix.search_facets(self.text, list(corpus.facet_fields))
        if f == "facet_range":
            lo, hi, gap = corpus.range_spec
            return ix.search_facet_range(self.text, corpus.range_field,
                                         lo, hi, gap)
        if f == "export":
            return ix.export_matches(self.text)
        if f == "collapse":
            return ix.search_collapse(self.text, corpus.collapse_field, k=K)
        raise ValueError(f"unknown query form {f!r}")

    def execute(self, df):
        """Run the plan and bring the answer back to the driver."""
        if self.form == "export":
            return df.count()
        rows = df.collect()
        if self.form == "facets":
            return {(r["field"], r["value"]): int(r["n"]) for r in rows}
        if self.form == "facet_range":
            return {int(r["bucket_lo"]): int(r["n"]) for r in rows}
        if self.form == "collapse":
            return [(int(r[0]), float(r[1]), r[2]) for r in rows]
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-12)


def ranked_ok(got, want, k: int = K) -> bool:
    """``got`` (doc, score) answers a top-k whose exact ranking is ``want``
    (computed ``EXTRA`` deeper than k)."""
    n = min(k, len(want))
    if len(got) != n or len({d for d, _ in got}) != n:
        return False
    score_of = dict(want)
    return all(_close(s, ws) and d in score_of and _close(score_of[d], s)
               for (d, s), (_, ws) in zip(got, want))


def check(q: Query, got, corpus: Corpus) -> bool:
    if q.form == "collapse":
        want = q.expected
        if len(got) != len(want):
            return False
        col = corpus.frame[corpus.collapse_field]
        best = {g: s for _, s, g in want}
        return all(_close(s, ws) and col.iat[d] == g and g in best
                   and _close(best[g], s)
                   for (d, s, g), (_, ws, _) in zip(got, want))
    if q.form in ("facets", "facet_range", "export"):
        return got == q.expected
    return ranked_ok(got, q.expected)


# ----------------------------------------------------------- expected ----

def ranked_expected(q: Query, oracle, exclude=()) -> list:
    """The exact ranking of a ranked query, ``K + EXTRA`` deep, with the
    ``exclude`` doc ids (tombstones) removed."""
    depth = K + EXTRA + len(exclude)
    f = q.form
    if f in ("or", "head", "qs-or"):
        res = oracle.search(q.text, k=depth)
    elif f == "and":
        res = oracle.search(q.text, k=depth, mode="AND")
    elif f == "must":
        pq = parse_query(q.text)
        must = [c.text for c in pq.clauses if c.occur == "MUST"]
        res = oracle.search(" ".join(c.text for c in pq.clauses), k=depth,
                            must=must)
    elif f == "not":
        pq = parse_query(q.text)
        pos = " ".join(c.text for c in pq.clauses if c.occur != "MUST_NOT")
        banned = set()
        for c in pq.clauses:
            if c.occur == "MUST_NOT":
                for t in tokenize_py(c.text):
                    if t in oracle.postings:
                        banned.update(oracle.postings[t][0].tolist())
        res = [(d, s) for d, s in oracle.search(pos, k=oracle.n_docs)
               if d not in banned][:depth]
    elif f in ("phrase", "qs-phrase"):
        text = parse_query(q.text).clauses[0].text if f == "qs-phrase" \
            else q.text
        res = phrase_oracle(oracle, text, depth, q.slop)
    else:
        raise ValueError(f"{f!r} is not a ranked form")
    ex = set(exclude)
    return [(d, s) for d, s in res if d not in ex][:K + EXTRA]


def fullmatch_expected(q: Query, oracle, corpus: Corpus):
    matches = oracle.search(q.text, k=oracle.n_docs)
    ids = np.array([d for d, _ in matches], dtype=np.int64)
    rows = corpus.frame.iloc[ids]
    if q.form == "export":
        return len(ids)
    if q.form == "facets":
        out = {}
        for f in corpus.facet_fields:
            for v, n in rows[f].dropna().astype(str).value_counts().items():
                out[(f, v)] = int(n)
        return out
    if q.form == "facet_range":
        lo, hi, gap = corpus.range_spec
        v = rows[corpus.range_field]
        v = v[(v >= lo) & (v < hi)]
        b = (lo + (v - lo) // gap * gap).astype(int)
        return {int(k): int(n) for k, n in b.value_counts().items()}
    # collapse: best (score desc, doc asc) per group, then the top-k groups
    col = corpus.frame[corpus.collapse_field]
    best = {}
    for d, s in matches:              # already in (score desc, doc asc)
        best.setdefault(col.iat[d], (d, s))
    reps = sorted(best.items(), key=lambda kv: (-kv[1][1], kv[1][0]))
    return [(d, s, g) for g, (d, s) in reps[:K]]


# --------------------------------------------------------------- pools ---

def make_pool(corpus: Corpus, oracle, rng: np.random.Generator,
              head_df: int) -> dict[str, list[Query]]:
    """Up to eight queries per class drawn from the corpus's own term
    frequencies. ``head_df``: the engine's impact-sidecar threshold;
    head queries use terms above it when the corpus has any."""
    by_df = sorted(oracle.df.items(), key=lambda kv: (-kv[1], kv[0]))
    heads = [t for t, d in by_df if d > head_df][:6] or \
        [t for t, _ in by_df[:6]]
    mids = [t for t, d in by_df if 200 <= d <= head_df and t not in heads]

    def pick(pool, n):
        return [str(x) for x in rng.choice(pool, size=n, replace=False)]

    topk = []
    for i in range(8):
        form = ("or", "and", "must", "not", "qs-or")[i % 5]
        a, b, c = pick(mids, 3)
        h = pick(heads, 1)[0]
        text = {"or": f"{a} {b}", "and": f"{h} {a}", "must": f"+{a} {b}",
                "not": f"{a} {b} -{h}", "qs-or": f"{a} {b} {c}"}[form]
        topk.append(Query("topk", form, text))
    head = [Query("head", "head", t) for t in heads]
    phrase = []
    docs = corpus.frame["text"]
    while len(phrase) < 8:
        toks = tokenize_py(docs.iat[int(rng.integers(len(docs)))])
        if len(toks) < 2:
            continue
        i = int(rng.integers(len(toks) - 1))
        a, b = toks[i], toks[i + 1]
        slop = len(phrase) % 2
        if len(phrase) % 4 < 2:
            phrase.append(Query("phrase", "phrase", f"{a} {b}", slop=slop))
        else:
            phrase.append(Query("phrase", "qs-phrase", f'"{a} {b}"~{slop}',
                                slop=slop))
    full = []
    for i in range(8):
        form = ("facets", "facet_range", "export", "collapse")[i % 4]
        a, b = pick(mids, 2)
        full.append(Query("fullmatch", form,
                          f"{a} {b}" if form == "export" else a))
    pool = {"topk": topk, "head": head, "phrase": phrase, "fullmatch": full}
    for qs in pool.values():
        for q in qs:
            q.terms = tuple(sorted(set(tokenize_py(" ".join(
                c.text for c in parse_query(q.text).clauses)))))
            q.expected = (fullmatch_expected(q, oracle, corpus)
                          if q.cls == "fullmatch"
                          else ranked_expected(q, oracle))
    return pool


class Mix:
    """The closed-loop query sequence: ``CYCLE`` over and over; each class
    walks its pool, whose forms alternate, from the start, so every run
    samples the same forms in the same proportions."""

    def __init__(self, pool: dict[str, list[Query]]):
        self.pool = pool
        self._next = {c: 0 for c in pool}

    def cycle(self) -> list[Query]:
        out = []
        for cls in CYCLE:
            qs, i = self.pool[cls], self._next[cls]
            self._next[cls] = i + 1
            out.append(qs[i % len(qs)])
        return out
