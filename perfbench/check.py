"""Answer checks against the pure-Python oracle (`search.oracle`).

The oracle only needs the field length of every document and the postings
of the terms the checked queries use, so it is built for exactly those
terms; analysis is `analyze_with_positions`, as in `build_oracle_index`.
"""

from __future__ import annotations

import numpy as np

from lucene_solr_spark.analysis.smallfloat import NORM_ENCODERS
from lucene_solr_spark.analysis.tokenizer import analyze, analyze_with_positions
from lucene_solr_spark.search.oracle import OracleIndex


class DocStats:
    """Per-document field length and the tf of the watched terms."""

    def __init__(self, terms: set[str]):
        self.terms = terms
        self.field_len: dict[int, int] = {}
        self.tf: dict[str, dict[int, int]] = {t: {} for t in terms}

    def add(self, doc_ids, contents) -> None:
        for doc_id, content in zip(doc_ids, contents):
            pos_map, flen = analyze_with_positions(content or "")
            self.field_len[int(doc_id)] = flen
            for t in self.terms.intersection(pos_map):
                self.tf[t][int(doc_id)] = len(pos_map[t])

    def oracle(self) -> OracleIndex:
        """Index over every doc added."""
        docs = np.array(sorted(self.field_len), dtype=np.int64)
        flen = np.array([self.field_len[int(d)] for d in docs], dtype=np.int64)
        norms = NORM_ENCODERS["bm25"](flen)
        idx = OracleIndex()
        idx.doc_count = len(docs)
        idx.sum_ttf = int(flen.sum())
        idx.field_len = dict(zip(docs.tolist(), flen.tolist()))
        idx.norm_bytes = dict(zip(docs.tolist(), (int(b) for b in norms)))
        idx.postings = {t: dict(p) for t, p in self.tf.items()}
        return idx


def same(got: list[tuple[int, float]], want: list[tuple[int, np.float32]]) -> bool:
    """Rank-identical and float32-identical."""
    return len(got) == len(want) and all(
        g[0] == w[0] and np.float32(g[1]) == np.float32(w[1]) for g, w in zip(got, want))


def query_terms(queries) -> set[str]:
    return {t for q in queries for t in analyze(q)}
