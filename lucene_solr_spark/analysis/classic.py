"""ClassicTokenizer + ClassicFilter — reference-exact port of the
pre-3.1 StandardTokenizer grammar (lucene/analysis/common/.../standard/
ClassicTokenizerImpl.jflex) and its post-filter (ClassicFilter.java).

Pinned bit-for-bit — (term, type, posInc, startOffset, endOffset) — vs
the compiled scanner in tests/test_misc_filters.py (GT round 58).

The grammar's token rules, longest match wins with ties to the EARLIER
rule (jflex semantics):

  ALPHANUM    (letter|thai|digit)+
  APOSTROPHE  alpha ("'" alpha)+           — O'Reilly, you're
  ACRONYM     letter "." (letter ".")+     — U.S.A. (dots removed by
                                             ClassicFilter)
  COMPANY     alpha ("&"|"@") alpha        — AT&T, Excite@Home
  EMAIL       alnum (("."|"-"|"_") alnum)* "@" alnum (("."|"-") alnum)+
  HOST        alnum ("." alnum)+
  NUM         alternating alnum segments over P = [-_/.,] where every
              OTHER segment contains a digit (serials, IPs, floats)
  CJ          one Chinese/Japanese char per token
  ACRONYM_DEP alnum "." (alnum ".")+       — trailing-dot form; the
                                             tokenizer retypes it <HOST>

LETTER is Unicode Letter minus the CJ ranges; ALPHANUM adds Thai and
digits; HAS_DIGIT segments allow letters+digits only (no Thai). Tokens
longer than maxTokenLength (255) are skipped entirely, bumping the next
token's position increment — they are never split (unlike the UAX#29
tokenizer's buffer windows).

ClassicFilter: APOSTROPHE tokens drop a trailing 's (either case);
ACRONYM tokens drop their dots. ClassicAnalyzer = this chain +
LowerCaseFilter + StopFilter(33).
"""

from __future__ import annotations

import unicodedata

Tok = tuple[str, str, int, int, int]  # term, type, posInc, start, end

_CJ_RANGES = (
    (0x3100, 0x312F), (0x3040, 0x309F), (0x30A0, 0x30FF),
    (0x31F0, 0x31FF), (0x3300, 0x337F), (0x3400, 0x4DBF),
    (0x4E00, 0x9FFF), (0xF900, 0xFAFF), (0xFF65, 0xFF9F),
)

MAX_TOKEN_LENGTH = 255
_P = frozenset("_-/.,")


def _is_cj(cp: int) -> bool:
    return any(lo <= cp <= hi for lo, hi in _CJ_RANGES)


def _is_letter(ch: str) -> bool:
    # jflex [:letter:] = Unicode L*; LETTER excludes the CJ block
    return unicodedata.category(ch).startswith("L") and not _is_cj(ord(ch))


def _is_thai(ch: str) -> bool:
    return 0x0E00 <= ord(ch) <= 0x0E59


def _is_digit(ch: str) -> bool:
    return unicodedata.category(ch) == "Nd"


def _is_alnum(ch: str) -> bool:
    return _is_letter(ch) or _is_thai(ch) or _is_digit(ch)


def _is_ld(ch: str) -> bool:  # HAS_DIGIT / ACRONYM alphabet: letter|digit
    return _is_letter(ch) or _is_digit(ch)


def _run(u: list[str], i: int, pred) -> int:
    j = i
    while j < len(u) and pred(u[j]):
        j += 1
    return j - i


def _match_alphanum(u, i):
    return _run(u, i, _is_alnum)


def _match_apostrophe(u, i):
    n = _run(u, i, _is_letter)
    if n == 0:
        return 0
    j = i + n
    total = n
    matched = False
    while j < len(u) and u[j] == "'":
        k = _run(u, j + 1, _is_letter)
        if k == 0:
            break
        total += 1 + k
        j += 1 + k
        matched = True
    return total if matched else 0


def _match_acronym(u, i, alpha=_is_letter):
    # letter+ "." (letter+ ".")+ — each group is a LETTER RUN in the
    # ACRONYM_DEP variant (alnum runs); plain ACRONYM is single... no:
    # ACRONYM = {LETTER} "." ({LETTER} ".")+ — ONE letter per group.
    if i >= len(u) or not alpha(u[i]):
        return 0
    total = 0
    j = i
    groups = 0
    while j < len(u) and alpha(u[j]) and j + 1 < len(u) and u[j + 1] == ".":
        j += 2
        groups += 1
        total = j - i
    return total if groups >= 2 else 0


def _match_acronym_dep(u, i):
    # {ALPHANUM} "." ({ALPHANUM} ".")+ — alnum RUNS, ends with '.'
    j = i
    groups = 0
    total = 0
    while True:
        n = _run(u, j, _is_alnum)
        if n == 0 or j + n >= len(u) or u[j + n] != ".":
            break
        j += n + 1
        groups += 1
        total = j - i
    return total if groups >= 2 else 0


def _match_company(u, i):
    n1 = _run(u, i, _is_letter)
    if n1 == 0:
        return 0
    j = i + n1
    if j < len(u) and u[j] in ("&", "@"):
        n2 = _run(u, j + 1, _is_letter)
        if n2 > 0:
            return n1 + 1 + n2
    return 0


def _match_email(u, i):
    # ALPHANUM (([.-_]) ALPHANUM)* "@" ALPHANUM (([.-]) ALPHANUM)+
    # local part: greedy alternating; the '@' must follow a segment
    j = i
    n = _run(u, j, _is_alnum)
    if n == 0:
        return 0
    j += n
    while j < len(u) and u[j] in (".", "-", "_"):
        k = _run(u, j + 1, _is_alnum)
        if k == 0:
            break
        j += 1 + k
    if j >= len(u) or u[j] != "@":
        return 0
    j += 1
    n = _run(u, j, _is_alnum)
    if n == 0:
        return 0
    j += n
    domain_parts = 0
    while j < len(u) and u[j] in (".", "-"):
        k = _run(u, j + 1, _is_alnum)
        if k == 0:
            break
        j += 1 + k
        domain_parts += 1
    return (j - i) if domain_parts >= 1 else 0


def _match_host(u, i):
    j = i
    n = _run(u, j, _is_alnum)
    if n == 0:
        return 0
    j += n
    groups = 0
    while j < len(u) and u[j] == ".":
        k = _run(u, j + 1, _is_alnum)
        if k == 0:
            break
        j += 1 + k
        groups += 1
    return (j - i) if groups >= 1 else 0


def _match_num(u, i):
    # alternating segments over P; every OTHER segment must be
    # HAS_DIGIT ((letter|digit)* digit (letter|digit)*) — no Thai.
    # Longest valid prefix ending at a segment boundary wins.
    j = i
    segs: list[tuple[int, int]] = []  # (start, len)
    while True:
        n = _run(u, j, _is_alnum)
        if n == 0:
            break
        segs.append((j, n))
        j += n
        if j < len(u) and u[j] in _P:
            j += 1
        else:
            break
    if len(segs) < 2:
        return 0

    def seg_ld(idx: int) -> bool:
        s, n = segs[idx]
        return all(_is_ld(u[k]) for k in range(s, s + n))

    def seg_digit(idx: int) -> bool:
        s, n = segs[idx]
        return seg_ld(idx) and any(_is_digit(u[k]) for k in range(s, s + n))

    best = 0
    for last in range(1, len(segs)):
        # family1: odd positions HAS_DIGIT; family2: even positions
        ok1 = all(seg_digit(k) for k in range(1, last + 1) if k % 2 == 1)
        ok2 = all(seg_digit(k) for k in range(0, last + 1) if k % 2 == 0)
        if ok1 or ok2:
            s, n = segs[last]
            best = max(best, s + n - i)
    return best


def classic_scan(text: str) -> list[Tok]:
    """Raw scanner stream (pre-ClassicFilter): (term, type, posInc,
    start, end) with offsets in UTF-16 code units."""
    from lucene_solr_spark.analysis.misc_filters import _from_u16, _u16

    u = _u16(text)
    n = len(u)
    out: list[Tok] = []
    i = 0
    skipped = 0
    while i < n:
        cands: list[tuple[int, int, str]] = []  # (len, order, type)
        ln = _match_alphanum(u, i)
        if ln:
            cands.append((ln, 0, "<ALPHANUM>"))
        ln = _match_apostrophe(u, i)
        if ln:
            cands.append((ln, 1, "<APOSTROPHE>"))
        ln = _match_acronym(u, i)
        if ln:
            cands.append((ln, 2, "<ACRONYM>"))
        ln = _match_company(u, i)
        if ln:
            cands.append((ln, 3, "<COMPANY>"))
        ln = _match_email(u, i)
        if ln:
            cands.append((ln, 4, "<EMAIL>"))
        ln = _match_host(u, i)
        if ln:
            cands.append((ln, 5, "<HOST>"))
        ln = _match_num(u, i)
        if ln:
            cands.append((ln, 6, "<NUM>"))
        if i < n and _is_cj(ord(u[i])):
            cands.append((1, 7, "<CJ>"))
        ln = _match_acronym_dep(u, i)
        if ln:
            # the tokenizer retypes ACRONYM_DEP as <HOST>
            cands.append((ln, 8, "<HOST>"))
        if not cands:
            i += 1
            continue
        ln, order, typ = min(cands, key=lambda t: (-t[0], t[1]))
        if ln <= MAX_TOKEN_LENGTH:
            term_units = u[i:i + ln]
            if order == 8:
                # ACRONYM_DEP: the tokenizer trims the trailing '.'
                # AFTER setting offsets, so the end offset keeps it
                term_units = term_units[:-1]
            out.append((_from_u16(term_units), typ, skipped + 1, i, i + ln))
            skipped = 0
        else:
            skipped += 1
        i += ln
    return out


def classic_filter(toks: list[Tok]) -> list[Tok]:
    """ClassicFilter: strip 's off APOSTROPHE tokens, dots out of
    ACRONYM tokens."""
    out: list[Tok] = []
    for term, typ, pi, s, e in toks:
        if (
            typ == "<APOSTROPHE>"
            and len(term) >= 2
            and term[-2] == "'"
            and term[-1] in ("s", "S")
        ):
            term = term[:-2]
        elif typ == "<ACRONYM>":
            term = term.replace(".", "")
        out.append((term, typ, pi, s, e))
    return out


def classic_tokens(text: str) -> list[Tok]:
    """ClassicTokenizer + ClassicFilter."""
    return classic_filter(classic_scan(text))
