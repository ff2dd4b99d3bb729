"""topk_fuzzy_like_this_ref rows pinned on the compiled-reference test's
index. tests/test_lucene_ground_truth.py checks the same 7 cases against
the compiled FuzzyLikeThisQuery, but skips without javac and the
reference jars; these literals are the engine's rows for them, so the
scorer stays covered, on both scan plans, where that test cannot run."""

import os
import random

import numpy as np
import pytest

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.search import engine as E
from lucene_solr_spark.search.engine import IndexSearcher

#: (maxNumTerms, ignoreTF, minSimilarity, prefixLength, text): a `|`
#: splits addTerms calls, `minSim~prefixLen~text` overrides a call's
#: parameters
CASES = [
    (50, False, 2.0, 1, "aaab"),
    (50, False, 0.5, 1, "aaab bbzb"),
    (10, True, 1.0, 0, "abcd"),
    (3, False, 0.4, 2, "abcc dddd"),
    (2, False, 2.0, 1, "aab"),
    (50, False, 0.5, 3, "aaab|0.5~0~aaab"),
    (50, False, 2.0, 2, "abcc|0.4~0~abcc"),
]

#: (doc_id, repr(float32 score)) per case, top 10
ROWS = [
    [(4, "11.110804"), (29, "10.396231"), (7, "9.211484"), (16, "9.0620365"),
     (18, "8.423649"), (24, "8.358091"), (10, "7.98091"), (20, "7.794669"),
     (28, "7.1400337"), (12, "6.9475703")],
    [(4, "9.268507"), (12, "8.684463"), (29, "8.316985"), (24, "8.023768"),
     (18, "8.0078"), (20, "7.794669"), (7, "7.3691874"), (16, "7.2496295"),
     (10, "6.769129"), (13, "6.6864734")],
    [(5, "2.8045778"), (10, "2.8045778"), (16, "2.8045778"), (17, "2.8045778"),
     (27, "2.8045778"), (29, "2.8045778"), (1, "1.7949299"), (3, "1.7949299"),
     (6, "1.7949299"), (8, "1.7949299")],
    [(7, "11.805914"), (16, "11.136482"), (15, "10.9579935"), (13, "10.712162"),
     (26, "9.416407"), (22, "9.374093"), (17, "9.33858"), (27, "9.33858"),
     (10, "9.13765"), (1, "8.759359")],
    [(29, "6.6789494"), (16, "5.82181"), (10, "4.8571453"), (28, "4.8571453"),
     (4, "3.9121897"), (20, "3.9121897"), (5, "3.8924809"), (12, "3.4870262"),
     (19, "3.3626816"), (7, "2.9589105")],
    [(4, "17.063175"), (20, "15.589338"), (29, "14.970573"), (12, "13.895141"),
     (7, "13.264538"), (16, "13.049334"), (10, "12.568832"), (24, "12.035652"),
     (18, "11.02541"), (13, "10.698358")],
    [(17, "20.225527"), (27, "20.225527"), (5, "18.091225"), (15, "16.943024"),
     (0, "15.8707485"), (29, "15.7876005"), (16, "15.703722"), (24, "14.564262"),
     (7, "13.965082"), (10, "11.706056")],
]


@pytest.fixture(scope="module")
def flt_searcher(spark, tmp_root):
    """The 30-doc whitespace index of the compiled-reference test."""
    rng = random.Random(2929302)
    vocab = ["aaab", "aabb", "abcd", "abcc", "bbbb", "bbcc", "ccdd",
             "cdcd", "dddd", "abab"]
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10)))
        for _ in range(30)
    ]
    d = os.path.join(tmp_root, "idx_flt_pinned")
    src = spark.createDataFrame(list(enumerate(docs)), "doc_id long, content string")
    build_index(spark, src, out_dir=d, content_col="content", doc_id_col="doc_id",
                meta_cols=[], range_size=8, fingerprint="flt-pinned",
                analyzer="whitespace")
    return IndexSearcher(spark, d)


def _fields(ms, pl, text):
    out = []
    for seg in text.split("|"):
        sms, spl = ms, pl
        if "~" in seg:
            a, b, seg = seg.split("~", 2)
            sms, spl = float(a), int(b)
        out.append((seg, sms, spl))
    return out


@pytest.mark.parametrize("cap", [E.DRIVER_SCORE_MAX_BLOCKS, 0],
                         ids=["driver", "distributed"])
def test_fuzzy_like_this_ref_rows_pinned(flt_searcher, monkeypatch, cap):
    monkeypatch.setattr(E, "DRIVER_SCORE_MAX_BLOCKS", cap)
    for (mnt, itf, ms, pl, text), want in zip(CASES, ROWS):
        got = [
            (int(r["doc_id"]), repr(np.float32(r["score"])))
            for r in flt_searcher.topk_fuzzy_like_this_ref(
                _fields(ms, pl, text), max_num_terms=mnt, ignore_tf=itf, k=10
            ).collect()
        ]
        assert got == want, (mnt, itf, ms, pl, text)
