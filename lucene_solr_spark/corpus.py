"""Deterministic synthetic source-code corpus.

Shape per BASELINE.json input_hint: (repo, path, commit, lang, content).
Zipf-distributed identifier vocabulary (so term df spans singleton ->
stopword-scale), per-language keywords, numbers, punctuation, mixed case,
maxTokenLength edges, empty files, unicode identifiers, duplicate content
(tie-break exercise), and one pathological hot term in >90% of docs
(skew/salting exercise). Seeded and independent of Spark — same rows at
any parallelism.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANG_KEYWORDS = {
    "py": ["def", "class", "import", "return", "self", "None", "lambda"],
    "java": ["public", "static", "void", "class", "final", "extends"],
    "js": ["function", "const", "let", "var", "async", "await"],
    "go": ["func", "package", "defer", "chan", "struct", "interface"],
    "c": ["int", "char", "struct", "sizeof", "typedef", "static"],
    "md": ["the", "and", "with", "for", "this", "usage"],
}
LANGS = list(LANG_KEYWORDS)

HOT_TERM = "hotcommon"  # appears in >90% of docs: stopword-scale df


def _vocab(n: int) -> list[str]:
    roots = ["parse", "index", "merge", "token", "score", "block", "shard",
             "query", "field", "norm", "delta", "codec", "flush", "batch"]
    out = []
    i = 0
    while len(out) < n:
        r = roots[i % len(roots)]
        out.append(f"{r}_{i // len(roots)}" if i >= len(roots) else r)
        i += 1
    return out


def make_corpus(n_docs: int = 200, seed: int = 42, vocab_size: int = 500) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab(vocab_size))
    # Zipf ranks: term i drawn with prob ~ 1/(i+1)
    probs = 1.0 / np.arange(1, vocab_size + 1)
    probs /= probs.sum()

    rows = []
    for i in range(n_docs):
        repo = f"org{i % 7}/repo{i % 13}"
        lang = LANGS[i % len(LANGS)]
        path = f"src/m{i % 11}/file{i}.{lang}"
        commit = hashlib.sha1(f"c{i % 5}:{repo}".encode()).hexdigest()
        if i % 97 == 0:
            content = ""  # empty file
        elif i % 89 == 0:
            content = "the and of to is in  "  # all stop words -> field_len 0
        elif i % 83 == 0:
            content = "DupLicated exact Content for tie tests"  # exact dup pair
        elif i % 83 == 1 and i > 1:
            content = "DupLicated exact Content for tie tests"
        else:
            n_tokens = int(rng.integers(10, 120))
            words = rng.choice(vocab, size=n_tokens, p=probs).tolist()
            kw = LANG_KEYWORDS[lang]
            for j in range(0, len(words), 7):
                words[j] = kw[j % len(kw)]
            if i % 10 != 0:
                words.append(HOT_TERM)  # ~90% of docs
            if i % 61 == 0:
                words.append("x" * 300)  # > maxTokenLength, dropped
            if i % 53 == 0:
                words.append("İdentifier_ünïcode")
            if i % 3 == 0:
                words.append(f"Camel{i % 17}Case")
            content = " ".join(words) + f"\n// line {i} v1.{i % 4}.{i % 9}\n"
        rows.append((repo, path, commit, lang, content))
    df = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    return df.sort_values(["repo", "path", "commit"], kind="mergesort").reset_index(drop=True)
