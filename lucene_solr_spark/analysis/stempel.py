"""Stempel (Egothor) Polish stemmer + the PolishAnalyzer chain.

The reference's Polish analysis module
(lucene/analysis/stempel/src/java/org/egothor/stemmer/ +
org/apache/lucene/analysis/{stempel,pl}/) stems through a serialized
multi-trie of patch commands — `stemmer_20000.tbl`, shipped in-tree as a
DATA resource. This module parses that resource directly (it is data,
not code — the same adjudication as the kuromoji dictionaries) and
re-implements the lookup + patch machinery:

- `_DataInput`: java.io.DataInputStream readers (big-endian
  readBoolean/readInt/readChar, and readUTF's MODIFIED UTF-8 —
  2-byte NUL, CESU-8 surrogates);
- `Trie` / `MultiTrie2`: Trie.java:274-295 getLastOnPath (backward
  StrEnum walk over per-row cell maps), MultiTrie2.java:139-171
  (per-level command splicing with cannotFollow/skip/lengthPP,
  IndexOutOfBounds swallowed exactly as the reference's bare catch);
- `diff_apply`: Diff.java:106-151 patch interpreter ('-'/R/D/I
  commands, param = char - 'a' + 1, StringIndexOutOfBounds swallowed
  MID-PATCH — a partially applied patch is reference behavior);
- `polish_stem`: StempelFilter.java:99-104 (only tokens LONGER than
  DEFAULT_MIN_LENGTH=3 are stemmed; null/empty stem -> unchanged) over
  StempelStemmer.java:84-99 (empty command = no-op, empty result =
  unchanged token);
- `polish_analyzer_stream`: PolishAnalyzer.java:139-147 chain —
  StandardTokenizer, LowerCaseFilter, StopFilter(stopwords.txt),
  StempelFilter.

The sibling in-tree CJK modules stay out of reach of this treatment
through no fault of the format: the reference checkout ships kuromoji
WITHOUT TokenInfoDictionary$buffer.dat (the per-entry leftId/rightId/
wordCost array BinaryDictionary.java:107 loads — no Viterbi costs, no
lattice) and smartcn WITHOUT bigramdict.mem (BigramDictionary's
transition frequencies), so neither module's own Java can instantiate
from the in-tree resources either. Documented in COVERAGE.md.
"""

from __future__ import annotations

import functools
import os
import struct

#: the reference's in-tree stemmer table + stopword resources
#: (override when deploying against a different Lucene checkout)
REFERENCE_PL_DIR = os.environ.get(
    "SPARK_GRAFT_STEMPEL_DIR",
    "/root/reference/lucene/analysis/stempel/src/resources/"
    "org/apache/lucene/analysis/pl",
)

#: the serialized Egothor multi-trie; data from the reference checkout,
#: not vendored here, so it may be absent
STEMMER_TABLE = "stemmer_20000.tbl"


def resource_dir() -> str:
    """SPARK_GRAFT_STEMPEL_DIR as set at call time (it may change after
    import), else REFERENCE_PL_DIR."""
    return os.environ.get("SPARK_GRAFT_STEMPEL_DIR", REFERENCE_PL_DIR)


def stempel_available() -> bool:
    """True when the stemmer table is readable. Without it the Polish
    stemmer cannot run, and callers that can do without it (the
    stempel_polish gate variant) omit it instead of failing."""
    return os.path.isfile(os.path.join(resource_dir(), STEMMER_TABLE))


class _DataInput:
    """java.io.DataInputStream over bytes: big-endian primitives +
    modified-UTF-8 readUTF."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read_boolean(self) -> bool:
        v = self.buf[self.pos]
        self.pos += 1
        return v != 0

    def read_int(self) -> int:
        v = struct.unpack_from(">i", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def read_char(self) -> str:
        v = struct.unpack_from(">H", self.buf, self.pos)[0]
        self.pos += 2
        return chr(v)

    def read_utf(self) -> str:
        n = struct.unpack_from(">H", self.buf, self.pos)[0]
        self.pos += 2
        raw = self.buf[self.pos:self.pos + n]
        self.pos += n
        # modified UTF-8 -> UTF-16 code units (DataInputStream.readUTF)
        units: list[int] = []
        i = 0
        while i < len(raw):
            b = raw[i]
            if b < 0x80:
                units.append(b)
                i += 1
            elif (b & 0xE0) == 0xC0:
                units.append(((b & 0x1F) << 6) | (raw[i + 1] & 0x3F))
                i += 2
            else:
                units.append(
                    ((b & 0x0F) << 12)
                    | ((raw[i + 1] & 0x3F) << 6)
                    | (raw[i + 2] & 0x3F)
                )
                i += 3
        return "".join(map(chr, units))


class Trie:
    """Egothor Trie (Trie.java): rows of {char: (cmd, ref, skip)} cells;
    keys walk BACKWARD when forward=False (StrEnum)."""

    __slots__ = ("forward", "root", "cmds", "rows")

    def __init__(self, din: _DataInput):
        self.forward = din.read_boolean()
        self.root = din.read_int()
        self.cmds = [din.read_utf() for _ in range(din.read_int())]
        self.rows = []
        for _ in range(din.read_int()):
            cells = {}
            for _c in range(din.read_int()):
                ch = din.read_char()
                cmd = din.read_int()
                din.read_int()  # cnt (unused for lookup)
                ref = din.read_int()
                din.read_int()  # skip (unused by getLastOnPath)
                cells[ch] = (cmd, ref)
            self.rows.append(cells)

    def get_last_on_path(self, key: str) -> str | None:
        """Trie.java:274-295, with StrEnum direction folded in. Raises
        IndexError on an empty key exactly where Java's StrEnum.next
        would throw (MultiTrie2 swallows it)."""
        if not key:
            raise IndexError("empty key")
        seq = key if self.forward else key[::-1]
        now = self.rows[self.root]
        last = None
        for i in range(len(key) - 1):
            ch = seq[i]
            cell = now.get(ch)
            if cell is not None and cell[0] >= 0:
                last = self.cmds[cell[0]]
            if cell is not None and cell[1] >= 0:
                now = self.rows[cell[1]]
            else:
                return last
        cell = now.get(seq[len(key) - 1])
        return self.cmds[cell[0]] if cell is not None and cell[0] >= 0 else last


def _cannot_follow(after: str, goes: str) -> bool:
    # MultiTrie2.java:289-296
    return after in ("-", "D") and after == goes


def _length_pp(cmd: str) -> int:
    # MultiTrie2.java:318-333 (R falls through to I after len++)
    ln = 0
    i = 0
    while i < len(cmd):
        c = cmd[i]
        i += 1
        if c in ("-", "D"):
            ln += ord(cmd[i]) - ord("a") + 1
        elif c == "R":
            ln += 1
        i += 1
    return ln


class MultiTrie2:
    """MultiTrie2.java: a trie per patch-command level; getLastOnPath
    splices per-level commands with the skip/cannotFollow protocol."""

    EOM = "*"

    def __init__(self, din: _DataInput):
        self.forward = din.read_boolean()
        self.by = din.read_int()
        self.tries = [Trie(din) for _ in range(din.read_int())]

    def get_last_on_path(self, key: str) -> str:
        # MultiTrie2.java:139-171 — the bare IndexOutOfBounds catch
        # freezes the partial result, byte-for-byte
        result: list[str] = []
        try:
            lastkey = key
            last_ch = " "
            prev_cmd = ""
            for trie in self.tries:
                r = trie.get_last_on_path(lastkey)
                if r is None or (len(r) == 1 and r[0] == self.EOM):
                    return "".join(result)
                if _cannot_follow(last_ch, r[0]):
                    return "".join(result)
                last_ch = r[-2]  # IndexError when len(r) < 2 -> swallowed
                if r[0] == "-":
                    if prev_cmd:
                        key = self._skip(key, _length_pp(prev_cmd))
                    key = self._skip(key, _length_pp(r))
                prev_cmd = r
                result.append(r)
                if len(key) != 0:
                    lastkey = key
        except IndexError:
            pass
        return "".join(result)

    def _skip(self, s: str, count: int) -> str:
        # java subSequence raises on a negative length; the caller's
        # catch swallows it
        if count > len(s):
            raise IndexError("skip past end")
        return s[count:] if self.forward else s[: len(s) - count]


class _PatchAbort(Exception):
    """Java StringIndexOutOfBounds inside Diff.apply."""


def diff_apply(word: str, diff: str) -> str:
    """Diff.java:106-151: apply the patch command string; out-of-bounds
    aborts mid-patch keeping prior edits (reference bare catch)."""
    if diff is None:
        return word
    dest = list(word)
    pos = len(dest) - 1
    if pos < 0:
        return word
    try:
        for i in range(len(diff) // 2):
            cmd = diff[2 * i]
            param = diff[2 * i + 1]
            par_num = ord(param) - ord("a") + 1
            if cmd == "-":
                pos = pos - par_num + 1
            elif cmd == "R":
                if pos < 0 or pos >= len(dest):
                    raise _PatchAbort
                dest[pos] = param
            elif cmd == "D":
                o = pos
                pos -= par_num - 1
                # StringBuilder.delete(pos, o+1)
                if pos < 0 or pos > len(dest) or pos > o + 1:
                    raise _PatchAbort
                del dest[pos:o + 1]
            elif cmd == "I":
                pos += 1
                # StringBuilder.insert(pos, param)
                if pos < 0 or pos > len(dest):
                    raise _PatchAbort
                dest.insert(pos, param)
            pos -= 1
    except _PatchAbort:
        pass
    return "".join(dest)


@functools.lru_cache(maxsize=1)
def _load_table() -> MultiTrie2 | Trie:
    """StempelStemmer.load: method header containing 'M' -> MultiTrie2
    (stemmer_20000.tbl is '-0ME2'), else plain Trie."""
    path = os.path.join(resource_dir(), STEMMER_TABLE)
    with open(path, "rb") as f:
        din = _DataInput(f.read())
    method = din.read_utf().upper()
    return MultiTrie2(din) if "M" in method else Trie(din)


@functools.lru_cache(maxsize=1)
def polish_stop_set() -> frozenset:
    """stopwords.txt through WordlistLoader.getWordSet(reader, "#")."""
    path = os.path.join(resource_dir(), "stopwords.txt")
    out = set()
    with open(path, encoding="utf-8") as f:
        for line in f:
            w = line.partition("#")[0].strip()
            if w:
                out.add(w)
    return frozenset(out)


def stempel_stem(word: str) -> str | None:
    """StempelStemmer.stem: None when no command path exists; empty
    post-patch buffer is also None (caller keeps the token)."""
    table = _load_table()
    try:
        cmd = table.get_last_on_path(word)
    except IndexError:
        cmd = None
    if cmd is None:
        return None
    out = diff_apply(word, cmd)
    return out if out else None


def polish_stem(token: str) -> str:
    """StempelFilter.incrementToken: only tokens with length() >
    DEFAULT_MIN_LENGTH (3) are stemmed; an un-stemmable token passes
    through unchanged."""
    if len(token) <= 3:
        return token
    out = stempel_stem(token)
    return out if out is not None else token


def polish_analyzer_stream(text: str) -> list:
    """PolishAnalyzer.createComponents: StandardTokenizer ->
    StandardFilter (no-op) -> LowerCaseFilter -> StopFilter(stopwords)
    -> StempelFilter. -> [(term, posInc, start, end)]."""
    from .lang_analyzers import _plain_chain

    return _plain_chain(polish_stop_set(), polish_stem)(text)
