"""Seeded inputs for the benchmark: corpora and query sets.

Everything here is a pure function of (workload, seed, scale). Corpora come
from `lucene_solr_spark.corpus.make_corpus`; the query pools are picked from
the generated text itself (a whitespace df count over a seeded sample), so
they follow the corpus whatever its generator does. No Spark is involved.
"""

from __future__ import annotations

import re
from collections import Counter
from dataclasses import dataclass, field, replace

import numpy as np
import pandas as pd

from lucene_solr_spark.analysis.tokenizer import ENGLISH_STOP_WORDS
from lucene_solr_spark.corpus import HOT_TERM, make_corpus

SPIKE_TERM = "skewterm"
_WORD = re.compile(r"^[a-z][a-z0-9_]{0,40}$")


@dataclass(frozen=True)
class Workload:
    name: str
    docs: int
    vocab_size: int
    range_size: int | None  # None = the builder's default
    kinds: tuple[str, ...]  # query kinds, run round-robin
    round_size: int  # queries per timed round: a multiple of len(kinds)
    spikes: int = 0  # docs with a tf 30-50 spike of SPIKE_TERM


WORKLOADS = {
    # 2 doc ranges: WAND stays off and a query is mostly fixed per-query
    # cost (term-stats job, scheduling, Python round trip)
    "code_search": Workload(
        name="code_search", docs=10_000, vocab_size=4_000, range_size=None,
        kinds=("term", "or", "and", "rare_hot"), round_size=8,
    ),
    # 128-doc ranges, a 120-term vocabulary and a range-skewed spike term:
    # stopword-scale postings, so scan, decode, the Python scorer and (on
    # spike_hot_or) the WAND waves dominate a query
    "hot_topk": Workload(
        name="hot_topk", docs=12_000, vocab_size=120, range_size=128,
        kinds=("hot_or", "spike_hot_or", "hot_and"), round_size=3, spikes=120,
    ),
}


def scaled(w: Workload, scale: float) -> Workload:
    """The same workload at `scale` times its size (tests use a tiny one)."""
    return replace(w, docs=max(200, round(w.docs * scale)),
                   spikes=max(3, round(w.spikes * scale)) if w.spikes else 0)


@dataclass
class Corpus:
    docs: pd.DataFrame  # (repo, path, commit, lang, content)
    sample_df: Counter = field(default_factory=Counter)
    sample_n: int = 0


def make_inputs(w: Workload, seed: int) -> Corpus:
    pdf = make_corpus(w.docs, seed=seed, vocab_size=w.vocab_size)
    rng = np.random.default_rng([seed, 1])
    if w.spikes:
        # tools/wand_study.py --skewed recipe: tf 30-50 in a few docs,
        # tf 1 in 10% of the rest
        content = pdf["content"].tolist()
        spike = set(rng.choice(w.docs, size=min(w.spikes, w.docs), replace=False).tolist())
        background = rng.random(w.docs) < 0.1
        for i in range(w.docs):
            if i in spike:
                content[i] += (" " + SPIKE_TERM) * int(rng.integers(30, 51))
            elif background[i]:
                content[i] += " " + SPIKE_TERM
        pdf["content"] = content
    corpus = Corpus(docs=pdf)
    sample = pdf["content"].iloc[np.sort(rng.choice(w.docs, size=min(3000, w.docs), replace=False))]
    for text in sample:
        corpus.sample_df.update({t for t in text.lower().split() if _WORD.match(t)})
    corpus.sample_n = len(sample)
    return corpus


@dataclass(frozen=True)
class Query:
    text: str
    mode: str  # "or" | "and"
    kind: str
    prune: bool | None = None  # topk's WAND switch; None = the engine's auto rule


def _band(corpus: Corpus, lo: float, hi: float) -> list[str]:
    """Terms whose sample df share lies in [lo, hi], most frequent first."""
    n = corpus.sample_n
    return sorted((t for t, c in corpus.sample_df.items()
                   if lo * n <= c <= hi * n and t not in (HOT_TERM, SPIKE_TERM)
                   and t not in ENGLISH_STOP_WORDS),
                  key=lambda t: (-corpus.sample_df[t], t))


def make_queries(w: Workload, corpus: Corpus, seed: int, n: int) -> list[Query]:
    """n queries, kinds in round-robin order so every run holds the same mix;
    the terms are drawn with a Zipf weighting, so some recur."""
    rng = np.random.default_rng([seed, 2])

    def zipf_pool(terms: list[str]):
        terms = list(terms)
        rng.shuffle(terms)
        p = 1.0 / np.arange(1, len(terms) + 1)
        return terms, p / p.sum()

    def draw(pool, k: int) -> list[str]:
        terms, p = pool
        return [str(t) for t in rng.choice(terms, size=min(k, len(terms)), replace=False, p=p)]

    if w.name == "code_search":
        mid = zipf_pool(_band(corpus, 0.01, 0.10))
        common = zipf_pool(_band(corpus, 0.05, 0.30))
        rare = zipf_pool(_band(corpus, 0.0, max(0.003, 1.5 / corpus.sample_n)))
        make = {
            "term": lambda: (draw(rare if rng.random() < 0.5 else mid, 1), "or"),
            "or": lambda: (draw(mid, int(rng.integers(2, 5))), "or"),
            "and": lambda: (draw(common, int(rng.integers(2, 4))), "and"),
            "rare_hot": lambda: (draw(rare, 1) + [HOT_TERM], "or"),
        }
    else:
        hot = zipf_pool(_band(corpus, 0.0, 1.0)[:3])
        make = {
            "hot_or": lambda: ([HOT_TERM] + draw(hot, 1), "or"),
            "spike_hot_or": lambda: ([SPIKE_TERM] + draw(hot, 1), "or"),
            "hot_and": lambda: ([SPIKE_TERM, HOT_TERM], "and"),
        }
    out = []
    for i in range(n):
        kind = w.kinds[i % len(w.kinds)]
        terms, mode = make[kind]()
        # the spike term is WAND's case: force the two-wave plan, which the
        # auto rule (> 512 doc ranges) would leave off at this size
        out.append(Query(" ".join(terms), mode, kind, True if kind == "spike_hot_or" else None))
    return out
