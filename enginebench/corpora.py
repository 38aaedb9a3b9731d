"""The two input corpora, generated from the workload seed, and their oracle.

``docs`` mirrors the shape of the sf0.1 ``documents`` table: 5,000 short
documents drawn uniformly from a 30-word vocabulary plus one rare word, so
every common term has a document frequency near 3,900 and none crosses the
engine's impact-sidecar threshold (4,096). ``turns`` is the engine's own
synthetic transcript corpus (``transcripts.synthesize_pandas``): Zipf term
frequencies, so head terms take the impact fast path and queries decode
real posting volumes.

Both frames are sorted by (conv_id, turn_idx), the order in which the
engine assigns dense doc ids, so row i of a frame is doc i of a fresh
index built from it.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass

import numpy as np
import pandas as pd

from parser_indexer_spark.analyze import tokenize_py
from parser_indexer_spark.config import BM25_B, BM25_K1
from parser_indexer_spark.oracle import OracleIndex
from parser_indexer_spark.transcripts import synthesize_pandas

DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
DOC_RARE_WORD = "dup"
DOC_LANGS = np.array(["en", "zh", "es", "fr", "de"])
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


@dataclass(frozen=True)
class Corpus:
    """A generated corpus plus the doc-store columns its full-match queries
    read: ``facet_fields`` for field facets, ``range_field`` (with its
    integer start/end/gap) for range facets, ``collapse_field``."""
    name: str
    frame: pd.DataFrame
    facet_fields: tuple
    range_field: str
    range_spec: tuple
    collapse_field: str

    @property
    def text_bytes(self) -> int:
        return int(self.frame["text"].str.encode("utf-8").str.len().sum())


def docs_frame(seed: int, n: int, first: int = 0,
               tag: str = "") -> pd.DataFrame:
    """``n`` documents with ids ``first``.. (conv_id ``doc<id>``, one turn
    each, and the id itself as ``doc_id``). ``tag`` appends a marker word
    to every text."""
    rng = np.random.default_rng([seed, first])
    lens = rng.integers(10, 101, size=n)
    words = np.array(DOC_WORDS, dtype=object)[
        rng.integers(0, len(DOC_WORDS), size=int(lens.sum()))]
    texts = pd.Series(words).groupby(np.repeat(np.arange(n), lens)) \
        .agg(" ".join).to_numpy(dtype=object)
    rare = rng.random(n) < 0.05
    texts[rare] = texts[rare] + f" {DOC_RARE_WORD}"
    if tag:
        texts = texts + f" {tag}"
    ids = np.arange(first, first + n)
    text = pd.Series(texts, dtype=object)
    return pd.DataFrame({
        "conv_id": pd.Series([f"doc{i:07d}" for i in ids], dtype=object),
        "turn_idx": np.zeros(n, dtype=np.int32),
        "text": text,
        "lang": pd.Series(DOC_LANGS[rng.choice(len(DOC_LANGS), size=n,
                                               p=DOC_LANG_P)], dtype=object),
        "source": pd.Series([f"src{i % 20}" for i in ids], dtype=object),
        "n_chars": text.str.len().astype(np.int64),
        "doc_id": ids.astype(np.int64),
    })


def turns_frame(seed: int, n: int, conv_offset: int = 0,
                tag: str = "") -> pd.DataFrame:
    pdf = synthesize_pandas(n, seed=seed, conv_offset=conv_offset)
    pdf = pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    # microseconds: Spark reads parquet timestamps at that precision
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    if tag:
        pdf["text"] = pdf["text"] + f" {tag}"
    return pdf


def make_corpus(kind: str, seed: int, n: int) -> Corpus:
    if kind == "docs":
        return Corpus("docs", docs_frame(seed, n), ("lang", "source"),
                      "n_chars", (0, 800, 100), "source")
    return Corpus("turns", turns_frame(seed, n), ("role", "tool"),
                  "turn_idx", (0, 40, 5), "role")


def batch_frame(corpus: Corpus, seed: int, n: int, first: int,
                tag: str) -> pd.DataFrame:
    """New rows shaped like ``corpus`` whose keys start past its own."""
    if corpus.name == "docs":
        return docs_frame(seed, n, first=first, tag=tag)
    return turns_frame(seed, n, conv_offset=first, tag=tag)


def build_oracle(texts) -> OracleIndex:
    """An ``OracleIndex`` over ``texts`` (doc ids 0..n-1) with the same
    state its constructor builds, tabulated with pandas instead of one
    ``value_counts`` per document, which takes minutes at 10^5 docs. The
    benchmark's own test checks it against the constructor."""
    toks = [tokenize_py(t) for t in texts]
    n = len(toks)
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n)
    o = OracleIndex.__new__(OracleIndex)
    o.k1, o.b, o.stopwords = BM25_K1, BM25_B, ()
    o.doc_ids = list(range(n))
    o.toks = dict(enumerate(toks))
    o.n_docs = n
    o.dl = dict(enumerate(lens.tolist()))
    o.sum_dl = int(lens.sum())
    o.avg_dl = o.sum_dl / max(1, n)
    flat = pd.DataFrame({
        "doc_id": np.repeat(np.arange(n, dtype=np.int64), lens),
        "term": [w for t in toks for w in t]})
    tf = flat.groupby(["term", "doc_id"], sort=True).size() \
        .rename("tf").reset_index()
    by_term = tf.groupby("term", sort=False)
    o.df = by_term.size().to_dict()
    o.cf = by_term["tf"].sum().to_dict()
    o.postings = {
        term: (g["doc_id"].to_numpy(np.int64), g["tf"].to_numpy(np.float64))
        for term, g in by_term}
    return o


def phrase_oracle(o: OracleIndex, text: str, k: int, slop: int):
    """``o.phrase`` scanning only the docs that contain every phrase term
    (no other doc can match; the scores do not depend on the scan set)."""
    terms = set(tokenize_py(text))
    if any(t not in o.postings for t in terms):
        return []
    cands = None
    for t in terms:
        d = o.postings[t][0]
        cands = d if cands is None else np.intersect1d(cands, d)
    view = copy.copy(o)
    view.doc_ids = [int(d) for d in cands]
    return view.phrase(text, k=k, slop=slop)
