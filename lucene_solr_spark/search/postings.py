"""Decoded postings for query scoring.

Lucene decodes a term's postings once through its `PostingsEnum` and
scores from int arrays. `decode_postings` does the same for a scan of
posting blocks: one `block_decode_flat` pass per column over every block
of the scan, whatever its term or doc range, so the scorers work on numpy
arrays and never on one block or one pandas row at a time. The scan is a
pyarrow Table (the driver plan's direct read) or a pandas DataFrame (one
range group inside a Spark Python worker); both hold the same columns.
"""

from __future__ import annotations

import numpy as np

from ..index.codec import block_decode_flat, decode_doc_blocks


def decode_postings(scan, pos_terms=(), pay: bool = False, keep=None) -> dict:
    """Decode a block scan -> {term: (doc, tf, norm_byte, pos)}, each term's
    arrays in ascending doc order; with pay=True {term: (doc, tf,
    norm_byte, pos, pay)} for every term.

    scan: columns term, first_doc, docs_buf, tfs_buf and norms_buf, plus
    pos_buf for pos_terms (pos is None for the other terms) and pay_buf
    when pay. Blocks are ordered by first_doc, not block_no: an appended
    generation reuses block numbers but always covers higher doc ids. A
    block's doc deltas restart at its first_doc. pay is float32, aligned
    1:1 with pos; a block stored without payloads reads as NaN.
    keep: an optional row mask; the other rows are not decoded."""
    terms = scan["term"].to_numpy()
    if terms.size == 0:
        return {}
    first = scan["first_doc"].to_numpy().astype(np.int64)
    uniq, code = np.unique(terms, return_inverse=True)
    order = np.lexsort((first, code))
    if keep is not None:
        order = order[np.asarray(keep, dtype=bool)[order]]
    code, first = code[order], first[order]

    def column(name):
        return scan[name].to_numpy()[order]

    doc, n = decode_doc_blocks(column("docs_buf"), first)
    tf = block_decode_flat(column("tfs_buf"))[0].astype(np.int64)
    norm = np.frombuffer(b"".join(column("norms_buf")), dtype=np.uint8)

    # rows [row[c], row[c+1]) and postings [at[row[c]], at[row[c+1]]) of term c
    row = np.searchsorted(code, np.arange(uniq.size + 1))
    at = np.concatenate(([0], np.cumsum(n)))
    pos_terms = set(uniq.tolist() if pay else pos_terms)
    with_pos = np.array([t in pos_terms for t in uniq.tolist()])
    if with_pos.any():
        pos_rows = with_pos[code]
        pos, pn = block_decode_flat(column("pos_buf")[pos_rows])
        pos_at = np.zeros(code.size + 1, dtype=np.int64)
        pos_at[1:][pos_rows] = pn
        pos_at = np.cumsum(pos_at)
    if pay:
        pay_bufs = column("pay_buf")
        has_pay = np.fromiter(map(len, pay_bufs), dtype=np.int64, count=code.size) > 0
        pay_arr = np.full(pos.size, np.nan, dtype=np.float32)
        pay_arr[np.repeat(has_pay, pn)] = np.frombuffer(
            b"".join(pay_bufs[has_pay]), dtype=">f4"
        )

    out = {}
    for c, t in enumerate(uniq.tolist()):
        r0, r1 = row[c], row[c + 1]
        if r0 == r1:
            continue
        p = slice(at[r0], at[r1])
        entry = (doc[p], tf[p], norm[p])
        if with_pos[c]:
            q = slice(pos_at[r0], pos_at[r1])
            entry += (pos[q],) + ((pay_arr[q],) if pay else ())
        else:
            entry += (None,)
        out[t] = entry
    return out

