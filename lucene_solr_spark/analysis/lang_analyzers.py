"""RussianAnalyzer and DutchAnalyzer chains (analysis/ru/
RussianAnalyzer.java, analysis/nl/DutchAnalyzer.java): both are
StandardTokenizer → StandardFilter → LowerCaseFilter → StopFilter →
SnowballFilter with the already-pinned Snowball stemmers
(snowball_ru/snowball_nl); Dutch inserts StemmerOverrideFilter with the
reference's four-entry stem dictionary (matching terms take the dict
value AND become keywords, skipping the stemmer). Pinned bit-for-bit
against the COMPILED analyzers in tests/test_misc_filters.py (GT round
85c)."""

from __future__ import annotations

RUSSIAN_STOP = frozenset((
    "и", "в", "во", "не", "что", "он", "на", "я", "с", "со", "как",
    "а", "то", "все", "она", "так", "его", "но", "да", "ты", "к", "у",
    "же", "вы", "за", "бы", "по", "только", "ее", "мне", "было",
    "вот", "от", "меня", "еще", "нет", "о", "из", "ему", "теперь",
    "когда", "даже", "ну", "вдруг", "ли", "если", "уже", "или", "ни",
    "быть", "был", "него", "до", "вас", "нибудь", "опять", "уж",
    "вам", "сказал", "ведь", "там", "потом", "себя", "ничего", "ей",
    "может", "они", "тут", "где", "есть", "надо", "ней", "для", "мы",
    "тебя", "их", "чем", "была", "сам", "чтоб", "без", "будто",
    "человек", "чего", "раз", "тоже", "себе", "под", "жизнь", "будет",
    "ж", "тогда", "кто", "этот", "говорил", "того", "потому", "этого",
    "какой", "совсем", "ним", "здесь", "этом", "один", "почти", "мой",
    "тем", "чтобы", "нее", "кажется", "сейчас", "были", "куда",
    "зачем", "сказать", "всех", "никогда", "сегодня", "можно", "при",
    "наконец", "два", "об", "другой", "хоть", "после", "над",
    "больше", "тот", "через", "эти", "нас", "про", "всего", "них",
    "какая", "много", "разве", "сказала", "три", "эту", "моя",
    "впрочем", "хорошо", "свою", "этой", "перед", "иногда", "лучше",
    "чуть", "том", "нельзя", "такой", "им", "более", "всегда",
    "конечно", "всю", "между",
))

DUTCH_STOP = frozenset((
    "de", "en", "van", "ik", "te", "dat", "die", "in", "een", "hij",
    "het", "niet", "zijn", "is", "was", "op", "aan", "met", "als",
    "voor", "had", "er", "maar", "om", "hem", "dan", "zou", "of",
    "wat", "mijn", "men", "dit", "zo", "door", "over", "ze", "zich",
    "bij", "ook", "tot", "je", "mij", "uit", "der", "daar", "haar",
    "naar", "heb", "hoe", "heeft", "hebben", "deze", "u", "want",
    "nog", "zal", "me", "zij", "nu", "ge", "geen", "omdat", "iets",
    "worden", "toch", "al", "waren", "veel", "meer", "doen", "toen",
    "moet", "ben", "zonder", "kan", "hun", "dus", "alles", "onder",
    "ja", "eens", "hier", "wie", "werd", "altijd", "doch", "wordt",
    "wezen", "kunnen", "ons", "zelf", "tegen", "na", "reeds", "wil",
    "kon", "niets", "uw", "iemand", "geweest", "andere",
))


#: DutchAnalyzer.DEFAULT_STEM_DICT (DutchAnalyzer.java:80-85)
DUTCH_STEM_OVERRIDES = {
    "fiets": "fiets", "bromfiets": "bromfiets", "ei": "eier",
    "kind": "kinder",
}


def russian_analyzer_stream(text: str) -> list:
    from .snowball_ru import russian_stem
    from .tokenizer import _java_lower, iter_token_spans

    out = []
    pending = 1
    for tok, s, e in iter_token_spans(text):
        t = _java_lower(tok)
        if t in RUSSIAN_STOP:
            pending += 1
            continue
        out.append((russian_stem(t), pending, s, e))
        pending = 1
    return out


def dutch_analyzer_stream(text: str) -> list:
    from .snowball_nl import dutch_stem
    from .tokenizer import _java_lower, iter_token_spans

    out = []
    pending = 1
    for tok, s, e in iter_token_spans(text):
        t = _java_lower(tok)
        if t in DUTCH_STOP:
            pending += 1
            continue
        ov = DUTCH_STEM_OVERRIDES.get(t)
        out.append((ov if ov is not None else dutch_stem(t), pending, s, e))
        pending = 1
    return out


# --------------------------------------------------------------------
# Round-5 chains: fi / tr / hu / ro / ca / eu / ga / hy
# (analysis/{fi/FinnishAnalyzer,tr/TurkishAnalyzer,hu/HungarianAnalyzer,
#  ro/RomanianAnalyzer,ca/CatalanAnalyzer,eu/BasqueAnalyzer,
#  ga/IrishAnalyzer,hy/ArmenianAnalyzer}.java) — all StandardTokenizer
# chains over the pinned Snowball stemmers; stop sets embedded in
# lang_stops.py. Pinned end-to-end vs the compiled analyzers in
# tests/test_misc_filters.py.
# --------------------------------------------------------------------

import functools
import unicodedata as _ud


def _plain_chain(stop_set, stem):
    from .tokenizer import _java_lower, iter_token_spans

    def stream(text: str) -> list:
        out = []
        pending = 1
        for tok, s, e in iter_token_spans(text):
            t = _java_lower(tok)
            if t in stop_set:
                pending += 1
                continue
            out.append((stem(t), pending, s, e))
            pending = 1
        return out

    return stream


@functools.cache
def _make_plain_streams():
    """The five plain chains, built once per process (not per document)."""
    from . import lang_stops as st
    from .snowball_fi import finnish_stem
    from .snowball_hu import hungarian_stem
    from .snowball_misc import armenian_stem, basque_stem
    from .snowball_ro import romanian_stem

    return {
        "finnish": _plain_chain(st.FINNISH_STOP, finnish_stem),
        "hungarian": _plain_chain(st.HUNGARIAN_STOP, hungarian_stem),
        "romanian": _plain_chain(st.ROMANIAN_STOP, romanian_stem),
        "basque": _plain_chain(st.BASQUE_STOP, basque_stem),
        "armenian": _plain_chain(st.ARMENIAN_STOP, armenian_stem),
    }


def finnish_analyzer_stream(text: str) -> list:
    return _make_plain_streams()["finnish"](text)


def hungarian_analyzer_stream(text: str) -> list:
    return _make_plain_streams()["hungarian"](text)


def romanian_analyzer_stream(text: str) -> list:
    return _make_plain_streams()["romanian"](text)


def basque_analyzer_stream(text: str) -> list:
    return _make_plain_streams()["basque"](text)


def armenian_analyzer_stream(text: str) -> list:
    return _make_plain_streams()["armenian"](text)


def _java_lower_cp(ch: str) -> str:
    """Java Character.toLowerCase per codepoint: no 1->n expansions
    (dotted capital I stays single-char 'i'); a LONE sigma lowercases to
    'σ' (Python agrees without Final_Sigma context)."""
    if ch == "İ":
        return "i"
    lo = ch.lower()
    return lo if len(lo) == 1 else ch


def turkish_lower(t: str) -> str:
    """tr/TurkishLowerCaseFilter.java: I -> ı unless followed (through
    combining marks) by COMBINING DOT ABOVE (then i, dot deleted);
    everything else per-codepoint Java lowercase."""
    out = []
    i_or_after = False
    n = len(t)
    i = 0
    while i < n:
        ch = t[i]
        cp = ord(ch)
        i_or_after = (cp == 0x49) or (i_or_after
                                      and _ud.category(ch) == "Mn")
        if i_or_after:
            if cp == 0x307:
                i += 1
                continue
            if cp == 0x49:
                j = i + 1
                before_dot = False
                while j < n and _ud.category(t[j]) == "Mn":
                    if ord(t[j]) == 0x307:
                        before_dot = True
                        break
                    j += 1
                if before_dot:
                    out.append("i")
                else:
                    out.append("ı")
                    i_or_after = False
                i += 1
                continue
        out.append(_java_lower_cp(ch))
        i += 1
    return "".join(out)


def turkish_analyzer_stream(text: str) -> list:
    """StandardTokenizer -> StandardFilter -> ApostropheFilter (truncate
    at ' or U+2019; offsets unchanged) -> TurkishLowerCaseFilter ->
    StopFilter -> SnowballFilter(Turkish)."""
    from .lang_stops import TURKISH_STOP
    from .snowball_tr import turkish_stem
    from .tokenizer import iter_token_spans

    out = []
    pending = 1
    for tok, s, e in iter_token_spans(text):
        for i, ch in enumerate(tok):
            if ch in ("'", "’"):
                tok = tok[:i]
                break
        t = turkish_lower(tok)
        if t in TURKISH_STOP:
            pending += 1
            continue
        out.append((turkish_stem(t), pending, s, e))
        pending = 1
    return out


_CATALAN_ARTICLES = frozenset("dlmnst")


def catalan_analyzer_stream(text: str) -> list:
    """StandardTokenizer -> StandardFilter -> ElisionFilter(d/l/m/n/s/t)
    -> LowerCaseFilter -> StopFilter -> SnowballFilter(Catalan)."""
    from .lang_stops import CATALAN_STOP
    from .snowball_misc import catalan_stem
    from .tokenizer import _java_lower, iter_token_spans

    out = []
    pending = 1
    for tok, s, e in iter_token_spans(text):
        for i, ch in enumerate(tok):
            if ch in ("'", "’"):
                if tok[:i].lower() in _CATALAN_ARTICLES:
                    tok = tok[i + 1:]
                break
        t = _java_lower(tok)
        if t in CATALAN_STOP:
            pending += 1
            continue
        out.append((catalan_stem(t), pending, s, e))
        pending = 1
    return out


_IRISH_UPPER_VOWELS = frozenset("AEIOUÁÉÍÓÚ")


def irish_lower(t: str) -> str:
    """ga/IrishLowerCaseFilter.java: n/t prefix before an uppercase
    vowel gets a '-' inserted (nAthair -> n-athair); lowercase the rest
    per codepoint."""
    if len(t) > 1 and t[0] in "nt" and t[1] in _IRISH_UPPER_VOWELS:
        return t[0] + "-" + "".join(_java_lower_cp(c) for c in t[1:])
    return "".join(_java_lower_cp(c) for c in t)


_IRISH_HYPHENATIONS = frozenset("hnt")
_IRISH_ARTICLES = frozenset("dmb")


def irish_analyzer_stream(text: str) -> list:
    """StandardTokenizer -> StopFilter(h/n/t, ignoreCase) ->
    ElisionFilter(d/m/b) -> IrishLowerCaseFilter -> StopFilter ->
    SnowballFilter(Irish)."""
    from .lang_stops import IRISH_STOP
    from .snowball_misc import irish_stem
    from .tokenizer import iter_token_spans

    out = []
    pending = 1
    for tok, s, e in iter_token_spans(text):
        if tok.lower() in _IRISH_HYPHENATIONS:
            pending += 1
            continue
        for i, ch in enumerate(tok):
            if ch in ("'", "’"):
                if tok[:i].lower() in _IRISH_ARTICLES:
                    tok = tok[i + 1:]
                break
        t = irish_lower(tok)
        if t in IRISH_STOP:
            pending += 1
            continue
        out.append((irish_stem(t), pending, s, e))
        pending = 1
    return out
