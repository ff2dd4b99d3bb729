"""decode_postings (search/postings.py) against the per-block reference
decode, delta_decode(vbyte_decode(buf), first_doc), over every block
header, single-doc blocks, an appended generation, position streams and
payload-less blocks."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from lucene_solr_spark.index.codec import (
    block_encode_batch,
    delta_decode,
    delta_encode,
    for_encode,
    pfor_encode,
    vbyte_decode,
    vbyte_encode,
)
from lucene_solr_spark.search.postings import decode_postings

RNG = np.random.default_rng(5)


def _block(term, block_no, docs, enc, pay=True, tf=None):
    """One posting-block row; `enc` encodes each uint64 stream."""
    docs = np.asarray(docs, dtype=np.uint64)
    tfs = (RNG.integers(1, 4, size=docs.size) if tf is None
           else np.full(docs.size, tf)).astype(np.uint64)
    pos = RNG.integers(0, 40, size=int(tfs.sum())).astype(np.uint64)
    payload = RNG.random(pos.size).astype(">f4").tobytes() if pay else b""
    return {
        "term": term, "block_no": block_no,
        "first_doc": int(docs[0]), "last_doc": int(docs[-1]),
        "docs_buf": enc(delta_encode(docs)), "tfs_buf": enc(tfs),
        "norms_buf": RNG.integers(0, 256, size=docs.size).astype(np.uint8).tobytes(),
        "pos_buf": enc(pos), "pay_buf": payload,
    }


def _pfor(v):
    w = 3
    return pfor_encode(v, w, np.flatnonzero(v >> np.uint64(w)))


def _blocks():
    full = np.arange(0, 256, 2)  # 128 docs: the FOR-sized block
    spaced = np.concatenate((np.arange(300, 427), [5000]))  # one outlier gap
    rows = [
        # PLAIN, FOR and PFOR doc buffers
        _block("alpha", 0, full, vbyte_encode),
        _block("alpha", 1, full + 256, for_encode),
        _block("alpha", 2, spaced + 600, _pfor),
        _block("beta", 0, np.arange(10, 138), lambda v: block_encode_batch(
            v, np.array([0, v.size]))[0], tf=2),  # all-equal tfs: ALLEQ
        _block("beta", 1, [200], vbyte_encode),  # single-doc blocks
        _block("beta", 2, [201], for_encode),
        # an appended generation reuses block numbers 0 and 1 at higher docs
        _block("gamma", 0, [3, 9, 40], vbyte_encode),
        _block("gamma", 1, [100, 101, 102, 103], vbyte_encode),
        _block("gamma", 0, [900, 905], vbyte_encode, pay=False),
        _block("gamma", 1, [1000, 1001, 1002], for_encode, pay=False),
    ]
    return pd.DataFrame(rows).sample(frac=1.0, random_state=3).reset_index(drop=True)


def _reference(pdf, term):
    g = pdf[pdf["term"] == term].sort_values("first_doc")
    doc, tf, nb, pos, pay = [], [], [], [], []
    for r in g.itertuples():
        doc.append(delta_decode(vbyte_decode(r.docs_buf), r.first_doc).astype(np.int64))
        tf.append(vbyte_decode(r.tfs_buf).astype(np.int64))
        nb.append(np.frombuffer(r.norms_buf, dtype=np.uint8))
        p = vbyte_decode(r.pos_buf)
        pos.append(p)
        pay.append(np.frombuffer(r.pay_buf, dtype=">f4").astype(np.float32)
                   if r.pay_buf else np.full(p.size, np.nan, dtype=np.float32))
    return tuple(np.concatenate(x) for x in (doc, tf, nb, pos, pay))


@pytest.mark.parametrize("as_arrow", [False, True], ids=["pandas", "arrow"])
def test_decode_equals_per_block_reference(as_arrow):
    pdf = _blocks()
    heads = {b[0] for b in pdf["docs_buf"]} | {b[0] for b in pdf["tfs_buf"]}
    assert heads >= {0, 1, 2, 3}  # PLAIN, ALLEQ, FOR and PFOR all occur
    scan = pa.Table.from_pandas(pdf) if as_arrow else pdf
    got = decode_postings(scan, pay=True)
    assert sorted(got) == ["alpha", "beta", "gamma"]
    for t, entry in got.items():
        want = _reference(pdf, t)
        assert len(entry) == 5
        for g, w in zip(entry, want):
            assert g.dtype == w.dtype
            np.testing.assert_array_equal(g, w)
        assert np.all(np.diff(entry[0]) > 0)
    # payload-less blocks of the appended generation read as NaN
    bare = pdf[pdf["pay_buf"] == b""]["pos_buf"]
    assert np.isnan(got["gamma"][4]).sum() == sum(vbyte_decode(b).size for b in bare) > 0


def test_positions_only_for_asked_terms_and_keep_mask():
    pdf = _blocks()
    got = decode_postings(pdf, pos_terms={"beta"})
    assert got["alpha"][3] is None and got["gamma"][3] is None
    np.testing.assert_array_equal(got["beta"][3], _reference(pdf, "beta")[3])
    assert all(len(v) == 4 for v in got.values())
    keep = (pdf["term"] != "alpha").to_numpy()
    assert sorted(decode_postings(pdf, keep=keep)) == ["beta", "gamma"]
    assert decode_postings(pdf.iloc[:0]) == {}

