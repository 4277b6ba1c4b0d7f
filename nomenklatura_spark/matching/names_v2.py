"""C1/C14 — LogicV2-style name matching and address matching.

Behavioral re-expression (NOT a port) of the reference's LogicV2 name
matcher (``nomenklatura/matching/logic_v2/names/match.py:29-244``) and
address comparison (``nomenklatura/matching/compare/addresses.py:25-71``).

The reference's name matcher leans on rigour's cultural symbol tables and
its cost-folded part-alignment DP.  This engine re-expresses the scoring
structure over the compact public lexicon in ``matching/symbols.py`` and
the script folding in ``matching/translit.py``, with the mechanics
calibrated against the reference's own frozen per-case output
(``contrib/name_bench/run_data/logicv2-frozen.csv``):

- **analysis**: apostrophes removed, scripts folded/romanised, split on
  non-word runs, single-letter runs merged ("J.P." → "jp"), leading
  honorifics dropped, alternates split on "/" and ";", legal-form
  phrases replaced by their own-language abbreviation in the comparable
  form ("Gesellschaft mit beschränkter Haftung" ≡ "GmbH").
- **literal early-exit** on the sorted comparable token multiset,
  guarded by the part-role compatibility check of
  ``util.py:part_tags_compatible``: part tags derive from the entity's
  own firstName/lastName statements (``_side_tags``), a comparable-equal
  pair with a given↔family role swap falls through to the alignment
  machinery in tag-sorted order with the person reorder disabled, so the
  swap pairs unequal strings and is penalised.  Name-only inputs carry
  no tags and behave exactly as before.
- **symbol pairing**: multi-token ORG_CLASS phrases, word-number spans
  ("Forty-Four" ~ "44"), NAME transliteration variants, NICK, DOMAIN,
  SYMBOL, particles, LOCATION, and acronym spans (token vs initials of
  ≥2 consecutive parts, score 0.9/weight 1.0, literal-rescued); max
  over pairings with and without each symbol edge (``match.py:29-127``).
- **residue alignment**: order-aware DP with part clustering — a merged
  cluster scores ``1 - (damerau + 0.2·joins)/len`` (the join cost
  reproduces the frozen run: "Plat Ono Vich"~"Platonovich" → 0.969),
  a 1-1 pair scores the kernel ``residue_fuzzy`` (``(1-d/L)^e``, d the
  confusable-weighted Levenshtein, min'd with L - LCS for equal
  lengths, e = 2 for equal lengths else 1 — fitted per-case to the
  frozen run, pinned by ``tests/test_parity_corpora.py``),
  no phonetic fallback (fitted out — see _cluster_score); persons reorder residues first
  (``align_person_name_order``), orgs keep order (so "C.B.A." vs
  "A.B.C." penalises, frozen 0.2308).
- **weights**: extras ×0.8 query / ×0.2 result with per-category biases
  (single stopword → 0.5, org/sym 0.7, numeric 1.3, location 0.8,
  ``magic.py:weight_extra_match``); matched single-part stopwords ×0.7;
  family-name boost ×1.3 (``match.py:92-116``); weighted mean; max over
  the name product.
- object-name matching (Vessel/Airplane/Security) uses whole-name
  strict-Levenshtein at 1-edit-per-5-chars with a ×0.7 number-mismatch
  penalty after prefix stripping (``match.py:141-171``).

All of it runs in one Arrow-batched pandas UDF over blocked pairs; name
normalisation happens once per side before the pair join.
"""

from __future__ import annotations

import re
from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from nomenklatura_spark.functions import compare as C
from nomenklatura_spark.functions.normalize import STOP_TOKENS
from nomenklatura_spark.functions.scoring import Feature, heuristic_score
from nomenklatura_spark.matching.symbols import (
    EXTRAS_WEIGHTS,
    SYM_SCORES,
    SYM_WEIGHTS,
)

EXTRA_QUERY_WEIGHT = 0.8
EXTRA_RESULT_WEIGHT = 0.2
FAMILY_NAME_WEIGHT = 1.3
STOPWORD_DAMPEN = 0.7
STOPWORD_EXTRA_BIAS = 0.5
NUMBER_MISMATCH_PENALTY = 0.3

# Schemas whose names are "things" (NameTypeTag.OBJ in the reference,
# followthemoney.names.schema_type_tag): whole-name fuzzy match instead
# of part alignment.
OBJ_SCHEMAS = frozenset({"Vessel", "Airplane", "Security"})

_STOP = frozenset(STOP_TOKENS) | {"a", "an", "et", "in", "on", "at", "by", "to"}

# Alignment-policy constants, fitted against the reference's frozen run
# (corpus mean |Δ| 0.025, 93% of cases within 0.1; pinned by
# tests/test_parity_corpora.py against tests/data/logicv2_frozen.csv).
# Decoded semantics:
# - equal single-token pairs are weightless only for org-style
#   conjunction stopwords ("Government of Estonia"~"... Ethiopia" has
#   "of"~"of" weightless) — person particles at full weight ("Bart De
#   Vries"~"Bart De Wever" = 2/3 keeps "de"~"de" as ordinary literal
#   evidence, "NIDAL AL-DULAIMI"~"NIDAL AL-RABI'I" likewise for "al")
# - the 0.7 mismatch dampen covers the same conjunctions plus the bare
#   initial "a" ("A. Khamenei"~"Ali Khamenei" = 1/1.7)
_ORG_STOP = frozenset(
    {"of", "and", "the", "for", "und", "et", "in", "on", "at", "by", "to"}
)
_STOP_EQ = _ORG_STOP  # equal single-token pairs in this set are weightless
_STOP_DAMPEN = _ORG_STOP | {"a"}  # mismatched pairs w/ one side here dampen 0.7
# aligned pair of two DIFFERENT location tokens (Santander México ~
# Santander Chile) carries the reference's LOCATION weight 0.8 —
# corpus-neutral vs 1.0 but matches the reference's weighting scheme
LOC_MISMATCH_WEIGHT = 0.8

_SPLIT_RE = re.compile(r"[^0-9a-zÀ-ɏЀ-ӿ]+")


def levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a or not b:
        return len(a) + len(b)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def damerau_osa(a: str, b: str) -> int:
    """Optimal-string-alignment distance: Levenshtein + adjacent
    transposition at cost 1 ("Luakshenko"~"Lukashenko" = 1, matching the
    frozen reference run)."""
    if a == b:
        return 0
    if not a or not b:
        return len(a) + len(b)
    prev2: list[int] = []
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            d = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            if i > 1 and j > 1 and ca == b[j - 2] and a[i - 2] == cb:
                d = min(d, prev2[j - 2] + 1)
            cur.append(d)
        prev2, prev = prev, cur
    return prev[-1]


@lru_cache(maxsize=100_000)
def strict_levenshtein_py(left: str, right: str, max_rate: int = 4) -> float:
    """1 edit allowed per ``max_rate`` chars; score (1 - d/len)^max_edits.

    Strings of ``max_rate`` chars or fewer must be equal — the frozen
    reference run scores "Cock"~"Cook" and "NABC"~"ABC" at 0.
    """
    if left == right:
        return 1.0
    max_len = max(len(left), len(right))
    if max_len <= max_rate:
        return 0.0
    max_edits = max_len // max_rate
    d = damerau_osa(left, right)
    if d > max_edits:
        return 0.0
    return (1 - (d / max_len)) ** max_edits


def _lcs_len(a: str, b: str) -> int:
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b, 1):
            cur.append(prev[j - 1] + 1 if ca == cb else max(prev[j], cur[-1]))
        prev = cur
    return prev[-1]


# Confusable-character classes for the weighted substitution cost:
# substituting within a class costs 0.7 instead of 1.0.  Decoded from the
# frozen run: "mosk"~"musk" 0.6806 = (1-0.7/4)², "jinpeng"~"jinping"
# 0.81 = (1-0.7/7)², "friedrych"~"friedrich" 0.8504 = (1-0.7/9)²,
# "vukić"~"vučić" 0.7396 = (1-0.7/5)² — while "jansen"~"jensen" (a↔e),
# "meleni"~"meloni" (e↔o) and "putin"~"pudin" (t↔d) stay at cost 1.
_CONFUSABLE = {"e": 1, "i": 1, "y": 1, "o": 2, "u": 2, "c": 3, "k": 3}
_SUB_DISCOUNT = 0.7
_MAX_EDITS = 2.0


def _wlev(a: str, b: str) -> float:
    """Levenshtein with discounted substitutions for confusable chars."""
    if a == b:
        return 0.0
    cls = _CONFUSABLE
    prev = [float(j) for j in range(len(b) + 1)]
    for i, ca in enumerate(a, 1):
        cur = [float(i)]
        ka = cls.get(ca)
        for j, cb in enumerate(b, 1):
            if ca == cb:
                sc = 0.0
            elif ka is not None and ka == cls.get(cb):
                sc = _SUB_DISCOUNT
            else:
                sc = 1.0
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + sc))
        prev = cur
    return prev[-1]


def residue_fuzzy(left: str, right: str) -> float:
    """1-1 residue-pair kernel, fitted per-case to the frozen reference
    run (pinned by tests/test_parity_corpora.py against
    tests/data/logicv2_frozen.csv): ``(1 - d/L)^e`` with ``e = 2`` for
    equal lengths (substitution-shaped edits) else 1, and ``d`` the
    confusable-class weighted levenshtein (``_wlev``), min'd with the
    LCS distance for equal lengths, with gates ``d <= L/4`` and
    ``L >= 5 or d < 1``.  The sub-integer escape admits short
    discounted-substitution pairs while length-4 full-cost pairs stay
    at 0.

    Decoded from frozen anchors: "Putin"~"Pudin" 0.64 = (4/5)^2,
    "Mertz"~"Merz" 0.8 = (4/5)^1, "Mosk"~"Musk" 0.6806 = (1-0.7/4)^2,
    "Frederick"~"Friedrich" 0.605 = (7/9)^2 (lev 3 but LCS distance 2),
    "Abdurrahim"~"Abdurrahman" 0 (lev 3 > 11/4 though LCS distance 2),
    "Joonng"~"Jong" 0, "Cock"~"Cook" 0 (full-cost sub at length 4).
    Corpus-wide: mean |Δ| 0.0238, 93.7% of cases within 0.1."""
    if left == right:
        return 1.0
    l1, l2 = len(left), len(right)
    max_len = max(l1, l2)
    if l1 == l2:
        d = min(float(max_len - _lcs_len(left, right)), _wlev(left, right))
    else:
        d = _wlev(left, right)
    if max_len < 5 and d >= 1:
        return 0.0
    # absolute cap 2: no frozen anchor accepts a 3-edit pair at any
    # length ("maroghashvili"~"margoshvili", lev 3 at L=13, scores 0)
    if d > min(max_len / 4, _MAX_EDITS):
        return 0.0
    exp = 2 if l1 == l2 else 1
    return (1 - d / max_len) ** exp


# --- name analysis ----------------------------------------------------------

from nomenklatura_spark.matching.symbols import (  # noqa: E402
    NAME_PHRASES,
    ORG_PHRASE_ABBREV,
    ORG_TOKEN_ABBREV,
    token_symbols_all,
)
from nomenklatura_spark.matching.translit import (  # noqa: E402
    fold_text,
    fold_text_iso,
)

_APOS_RE = re.compile(r"['’‘ʼʻ`´]")
_ALT_RE = re.compile(r"[/;]")
_TOKEN_RE = re.compile(r"[\W_]+", re.UNICODE)

_HONORIFICS = frozenset(
    "mr mrs ms miss mister dr prof professor sir dame lord lady president "
    "general colonel sheikh shaikh sheik haji hajji hadji imam ayatollah "
    "herr frau "
    # "president" across the languages sanctions lists actually carry
    # (folded forms; the Cyrillic/Greek ones arrive romanised)
    "prasident presidente president presidente predsjednik presedintele "
    "presiden prezident prezydent prezidentas presidentti prezident "
    "predsednik".split()
)

_LEET = str.maketrans("013459", "oleasg")


def _deleet(tok: str) -> str:
    """Fold confusable digits inside otherwise-alphabetic tokens
    ("Ig0r" → "igor", "Sech1n" → "sechln"→fuzzy) — adversarial leetspeak
    the reference also absorbs.  Pure-digit tokens (vessel numbers,
    brigade ordinals) are untouched."""
    if not tok[:1].isalpha() or not tok[-1:].isalpha():
        # ordinals ("1st") and trailing-digit names ("Vessel2") keep
        # their digits — only embedded confusables fold
        return tok
    n_alpha = sum(c.isalpha() for c in tok)
    n_digit = sum(c.isdigit() for c in tok)
    if n_alpha >= 2 and 1 <= n_digit <= n_alpha:
        return tok.translate(_LEET)
    return tok


_WORD_TENS = {"twenty": 20, "thirty": 30, "forty": 40, "fourty": 40,
              "fifty": 50, "sixty": 60, "seventy": 70, "eighty": 80,
              "ninety": 90}
_WORD_UNITS = {"one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
               "six": 6, "seven": 7, "eight": 8, "nine": 9}

_PHRASE_MAX = max(len(k) for k in ORG_PHRASE_ABBREV)


def _is_org_token(tok: str) -> bool:
    return any(s.startswith("org:") for s in token_symbols_all(tok))


# Single-letter roman numerals in fund/series names ("Partners V" vs
# "Partners VI"); excluded from the general word-number table because
# they collide with initials, but as a SYMBOL they can coexist.
_ROMAN_SINGLES = {"i": 1, "v": 5, "x": 10}

_LONG_LEGAL = tuple(k for k in ORG_TOKEN_ABBREV if len(k) >= 10)


@lru_cache(maxsize=50_000)
def _legal_token(tok: str) -> str:
    """Map a token to its legal-form abbreviation, tolerating misspellings
    of long forms (frozen: "Siemens Aktiengeselschaft" literal-matches
    "Siemens AG")."""
    hit = ORG_TOKEN_ABBREV.get(tok)
    if hit is not None:
        return hit
    if len(tok) >= 10:
        for key in _LONG_LEGAL:
            if abs(len(key) - len(tok)) <= 2 and damerau_osa(tok, key) <= 2:
                return ORG_TOKEN_ABBREV[key]
    return tok


def _org_class_id(abbrev: str) -> str:
    for sym in token_symbols_all(abbrev):
        if sym.startswith("org:"):
            return sym
    return f"org:{abbrev}"


def _comp_segments(toks: tuple[str, ...]) -> list[tuple[int, int, str]]:
    """``(start, end, value)`` comparable segments over a token sequence:
    greedy legal-phrase collapse (longest phrase first), then per-token
    legal-form canonicalisation — exactly the walk whose sorted values
    form the ``comparable`` string, shared by ``_analyze`` and the
    literal-early-exit tag guard so the guard pairs tokens the same way
    the comparable-equality it protects was established."""
    segs: list[tuple[int, int, str]] = []
    i, n = 0, len(toks)
    while i < n:
        hit = None
        for ln in range(min(_PHRASE_MAX, n - i), 1, -1):
            abbrev = ORG_PHRASE_ABBREV.get(tuple(toks[i : i + ln]))
            if abbrev is not None:
                hit = (ln, abbrev)
                break
        if hit is not None:
            segs.append((i, i + hit[0], hit[1]))
            i += hit[0]
        else:
            segs.append((i, i + 1, _legal_token(toks[i])))
            i += 1
    return segs


@lru_cache(maxsize=200_000)
def _analyze(name: str) -> tuple[tuple, ...]:
    """Name string → analyzed alternates.

    Each alternate is ``(tokens, comparable, spans, all_runs)``:
    folded/merged tokens, the sorted comparable form for the literal
    early-exit, symbol spans ``(start, end, symbol_id)``, and whether the
    name consists solely of merged initial runs (which disqualifies it
    from acronym pairing — frozen: "N.N." vs "Nursultan Nazarbayev" = 0).
    """
    # "/" separates alternate names ("Al-Qa'ida/Islamic Army") unless a
    # segment is a fragment of a slashed abbreviation ("A/S", "N/A")
    raw_alts = _ALT_RE.split(name)
    if any(len(a.strip()) <= 2 for a in raw_alts):
        raw_alts = [name.replace("/", " ").replace(";", " ")]
    alts = []
    folded_variants: list[str] = []
    for raw_alt in raw_alts:
        cleaned = _APOS_RE.sub("", raw_alt)
        folded_variants.append(fold_text(cleaned))
        # Cyrillic names also analyse under the ISO-9-style single-char
        # romanisation (translit._TABLE_ISO) — the matcher maxes over
        # alternates, so whichever folding matches the other side wins
        iso = fold_text_iso(cleaned)
        if iso != folded_variants[-1]:
            folded_variants.append(iso)
    for folded in folded_variants:
        raw_toks = [t for t in _TOKEN_RE.split(folded) if t]
        # merge single-letter alpha runs: [j, c] -> "jc", [o, o, o] -> "ooo"
        toks: list[str] = []
        merged: list[bool] = []
        run: list[str] = []

        def _flush() -> None:
            if len(run) >= 2:
                joined = "".join(run)
                # "V L.P." must not glue into "vlp": when the run's tail
                # is itself a legal-form token but the whole run is not,
                # split the prefix letters back out
                split_at = 0
                if not _is_org_token(joined):
                    for cut in (2, 3, 4):
                        if len(joined) > cut and _is_org_token(joined[-cut:]):
                            split_at = len(joined) - cut
                            break
                if split_at:
                    for ch in joined[:split_at]:
                        toks.append(ch)
                        merged.append(False)
                    toks.append(joined[split_at:])
                    merged.append(True)
                else:
                    toks.append(joined)
                    merged.append(True)
            elif run:
                toks.append(run[0])
                merged.append(False)
            run.clear()

        # "H and M" ≡ "H&M": a conjunction between single letters bridges
        # the initial run ("&" itself was already removed as non-word)
        for k in range(len(raw_toks) - 2, 0, -1):
            if (
                raw_toks[k] in ("and", "und", "et", "e", "y")
                and len(raw_toks[k - 1]) == 1
                and raw_toks[k - 1].isalpha()
                and len(raw_toks[k + 1]) == 1
                and raw_toks[k + 1].isalpha()
            ):
                raw_toks.pop(k)
        for t in raw_toks:
            if len(t) == 1 and t.isalpha():
                run.append(t)
            else:
                _flush()
                toks.append(_deleet(t))
                merged.append(False)
        _flush()
        while len(toks) > 1 and (
            toks[0] in _HONORIFICS or toks[0] == "the"
        ):
            toks.pop(0)
            merged.pop(0)
        if not toks:
            continue
        all_runs = all(m or len(t) == 1 for t, m in zip(toks, merged))

        # comparable form: legal phrases/tokens to their abbreviation,
        # then order-insensitive (reference: "Frost, William W." literal-
        # matches "William W Frost"; "OOO X Y" matches "X Y OOO").
        n = len(toks)
        comparable = " ".join(
            sorted(v for _, _, v in _comp_segments(tuple(toks)))
        )

        # symbol spans
        spans: list[tuple[int, int, str]] = []
        i = 0
        while i < n:
            hit = None
            for ln in range(min(_PHRASE_MAX, n - i), 1, -1):
                abbrev = ORG_PHRASE_ABBREV.get(tuple(toks[i : i + ln]))
                if abbrev is not None:
                    hit = (ln, abbrev)
                    break
            if hit is not None:
                spans.append((i, i + hit[0], _org_class_id(hit[1])))
                i += hit[0]
                continue
            if i + 1 < n:
                name_sym = NAME_PHRASES.get(tuple(toks[i : i + 2]))
                if name_sym is not None:
                    spans.append((i, i + 2, name_sym))
                    i += 2
                    continue
            t = toks[i]
            if (
                i + 1 < n
                and t in _WORD_TENS
                and toks[i + 1] in _WORD_UNITS
            ):
                spans.append(
                    (i, i + 2, f"num:{_WORD_TENS[t] + _WORD_UNITS[toks[i + 1]]}")
                )
                i += 2
                continue
            syms = token_symbols_all(t)
            for sym in syms:
                spans.append((i, i + 1, sym))
            if not syms and _legal_token(t) != t:
                spans.append((i, i + 1, _org_class_id(_legal_token(t))))
            if not syms and t in _ROMAN_SINGLES:
                spans.append((i, i + 1, f"num:{_ROMAN_SINGLES[t]}"))
            i += 1
        alts.append((tuple(toks), comparable, tuple(spans), all_runs))
    return tuple(alts)


# --- symbol edges -----------------------------------------------------------


def _acronym_edges(
    q: tuple, r: tuple
) -> list[tuple[tuple[int, int], tuple[int, int], str]]:
    """Acronym spans: a 2-6 letter token on one side vs the initials of as
    many consecutive parts on the other (score 0.9 / weight 1.0, frozen:
    "JC Juncker"~"Jean-Claude Juncker" = 0.95, "PLA"~"People's Liberation
    Army" = 0.9).  A side made only of initial runs never initiates
    ("N.N." = 0)."""
    edges = []
    for (a, b, flip) in ((q, r, False), (r, q, True)):
        a_toks, _, _, a_runs = a
        b_toks = b[0]
        if a_runs:
            continue
        for i, t in enumerate(a_toks):
            k = len(t)
            if not (2 <= k <= 6 and t.isalpha()):
                continue
            for j in range(0, len(b_toks) - k + 1):
                window = b_toks[j : j + k]
                # expansion words must be real words, not short tokens or
                # legal forms ("BP" must not acronym-match "BD plc")
                if any(
                    len(w) < 3
                    or any(s.startswith("org:") for s in token_symbols_all(w))
                    for w in window
                ):
                    continue
                if "".join(w[0] for w in window) == t:
                    qs, rs = ((j, j + k), (i, i + 1)) if flip else (
                        (i, i + 1),
                        (j, j + k),
                    )
                    edges.append((qs, rs, "acro"))
    return edges


def _symbol_edges(q: tuple, r: tuple):
    """Shared-symbol edges between two analyzed names."""
    q_by_id: dict[str, tuple[int, int]] = {}
    for s, e, sym in q[2]:
        q_by_id.setdefault(sym, (s, e))
    edges = []
    seen = set()
    for s, e, sym in r[2]:
        if sym in q_by_id and sym not in seen:
            seen.add(sym)
            cat = sym.split(":", 1)[0]
            edges.append((q_by_id[sym], (s, e), cat))
    if not any(sym.startswith("org:") for sym in seen):
        # distinct legal-form classes on the two sides are weak org
        # evidence, not a plain mismatch ("... S.A.R.L." vs "... GmbH")
        q_org = next(
            ((s, e) for s, e, sym in q[2] if sym.startswith("org:")), None
        )
        r_org = next(
            ((s, e) for s, e, sym in r[2] if sym.startswith("org:")), None
        )
        if q_org is not None and r_org is not None:
            edges.append((q_org, r_org, "orgx"))
    edges.extend(_acronym_edges(q, r))
    return edges


# --- residue alignment (cost-folded DP with clustering) ---------------------

_JOIN_COST = 0.2
_MAX_MERGE = 3


@lru_cache(maxsize=200_000)
def _cluster_score(qparts: tuple[str, ...], rparts: tuple[str, ...]) -> float:
    """Score of one aligned cluster.

    1-1 pairs: the LCS-distance kernel (``residue_fuzzy``) with a
    no phonetic fallback.  Merged clusters: linear ``1 - (d + 0.2*joins)/len``
    over the space-joined strings — the 0.2 join cost reproduces the
    frozen run ("Plat Ono Vich"~"Platonovich" → 0.969, "PolPot" → 0.971).
    """
    if len(qparts) == 1 and len(rparts) == 1:
        # No phonetic fallback: the frozen run gives zero credit to
        # metaphone-equal-but-distant pairs ("Ginta"~"Janett" both JNT,
        # "Marquez"~"Marcos" both MRKS — 0 in the reference), and the
        # cases a fallback used to rescue ("Mosk"~"Musk") are covered by
        # the confusable-class discounts in the kernel itself.
        return residue_fuzzy(qparts[0], rparts[0])
    qj, rj = "".join(qparts), "".join(rparts)
    spaced = max(len(qj) + len(qparts) - 1, len(rj) + len(rparts) - 1)
    max_edits = spaced // 4
    if max_edits < 1:
        return 0.0
    d = damerau_osa(qj, rj)
    if d > max_edits:
        return 0.0
    joins = (len(qparts) - 1) + (len(rparts) - 1)
    return max(0.0, 1.0 - (d + _JOIN_COST * joins) / spaced)


def _align_residue(
    qps: tuple[str, ...], rps: tuple[str, ...]
) -> list[tuple[tuple[str, ...], tuple[str, ...]]]:
    """Order-aware DP over two part sequences with clustering (up to
    ``_MAX_MERGE`` parts per side) and gaps.  Returns the chosen clusters;
    gapped parts are reported as one-sided clusters (extras)."""
    nq, nr = len(qps), len(rps)
    if nq == 0 or nr == 0:
        return [((p,), ()) for p in qps] + [((), (p,)) for p in rps]
    NEG = float("-inf")
    best = [[NEG] * (nr + 1) for _ in range(nq + 1)]
    back: list[list[tuple | None]] = [[None] * (nr + 1) for _ in range(nq + 1)]
    best[0][0] = 0.0
    for i in range(nq + 1):
        for j in range(nr + 1):
            cur = best[i][j]
            if cur == NEG:
                continue
            if i < nq and cur > best[i + 1][j]:  # gap query part
                best[i + 1][j] = cur
                back[i + 1][j] = (i, j, 1, 0)
            if j < nr and cur > best[i][j + 1]:  # gap result part
                best[i][j + 1] = cur
                back[i][j + 1] = (i, j, 0, 1)
            for a in range(1, _MAX_MERGE + 1):
                if i + a > nq:
                    break
                for b in range(1, _MAX_MERGE + 1):
                    if j + b > nr or (a > 1 and b > 1):
                        continue
                    s = _cluster_score(qps[i : i + a], rps[j : j + b])
                    # epsilon prefers aligning over double-gapping so
                    # mismatched pairs surface at weight 1.0 (frozen:
                    # "YU CHA OK"~"YU CHOL U" = 1/3)
                    v = cur + s + 1e-9
                    if v > best[i + a][j + b]:
                        best[i + a][j + b] = v
                        back[i + a][j + b] = (i, j, a, b)
    out = []
    i, j = nq, nr
    while i > 0 or j > 0:
        pi, pj, a, b = back[i][j]
        if a and b:
            out.append((qps[pi : pi + a], rps[pj : pj + b]))
        elif a:
            out.append((qps[pi : pi + a], ()))
        else:
            out.append(((), rps[pj : pj + b]))
        i, j = pi, pj
    out.reverse()
    return out


def _person_reorder(
    qps: tuple[str, ...], rps: tuple[str, ...]
) -> tuple[str, ...]:
    """align_person_name_order: reorder the result residue so its parts
    face their best-matching query parts (persons write name parts in
    either order)."""
    if not qps or not rps:
        return rps
    cands = []
    for j, rp in enumerate(rps):
        for i, qp in enumerate(qps):
            if qp == rp:
                s = 3.0
            else:
                f = residue_fuzzy(qp, rp)
                if f > 0.0:
                    s = 2.0 + f
                elif len(qp) >= 4 and (qp.startswith(rp) or rp.startswith(qp)):
                    s = 1.0 + min(len(qp), len(rp)) / max(len(qp), len(rp))
                elif token_symbols_all(qp) and set(token_symbols_all(qp)) & set(
                    token_symbols_all(rp)
                ):
                    s = 2.5
                else:
                    continue
            cands.append((s, i, j))
    cands.sort(key=lambda x: (-x[0], x[1], x[2]))
    q_taken: dict[int, int] = {}
    r_taken: set[int] = set()
    for s, i, j in cands:
        if i in q_taken or j in r_taken:
            continue
        q_taken[i] = j
        r_taken.add(j)
    ordered = [rps[q_taken[i]] for i in range(len(qps)) if i in q_taken]
    ordered.extend(rps[j] for j in range(len(rps)) if j not in r_taken)
    return tuple(ordered)


# --- weighting and combination ----------------------------------------------


def _extra_weight(
    parts: tuple[str, ...], side_weight: float, family: frozenset[str]
) -> float:
    """Weight of an unmatched span (``magic.py:weight_extra_match``):
    single stopword extras bias to 0.5; symbol-tagged extras bias per
    ``EXTRAS_WEIGHTS`` (org/sym cheap to omit, numeric expensive,
    location 0.8)."""
    w = side_weight
    if len(parts) == 1 and parts[0] in _STOP:
        w *= STOPWORD_EXTRA_BIAS
    else:
        for p in parts:
            for sym in token_symbols_all(p):
                cat = sym.split(":", 1)[0]
                if cat in EXTRAS_WEIGHTS:
                    w *= EXTRAS_WEIGHTS[cat]
                    break
    if any(p in family for p in parts):
        w *= FAMILY_NAME_WEIGHT
    return w


def _alignment_score(
    q: tuple,
    r: tuple,
    person: bool,
    family: frozenset[str],
    drop_acro: bool = False,
    reorder: bool = True,
) -> float:
    """Score one (query-alt, result-alt) pair: symbol edges + residue DP +
    extras, weighted mean (``match.py:29-127``).

    When an acronym edge is chosen, the no-acronym pairing is also scored
    and the max returned — the reference iterates over ``pair_symbols``
    pairings both with and without each symbol edge, so an acro edge can
    never *lower* the score (frozen: "H&M Hennes & Mauritz AB" ~
    "H and M Hennes and Mauritz AB" = 0.9615, where the hm~(hennes,
    mauritz) acronym pairing would score 0.59 by orphaning the literal
    "hm" token on the other side)."""
    q_toks, _, _, _ = q
    r_toks = r[0]
    edges = _symbol_edges(q, r)
    if drop_acro:
        edges = [e for e in edges if e[2] != "acro"]
    # maximal non-overlapping edge set (longest spans first)
    edges.sort(
        key=lambda e: -((e[0][1] - e[0][0]) + (e[1][1] - e[1][0]))
    )
    q_used = [False] * len(q_toks)
    r_used = [False] * len(r_toks)
    chosen = []
    for (qs, qe), (rs, re_), cat in edges:
        if any(q_used[qs:qe]) or any(r_used[rs:re_]):
            continue
        if cat in ("nick", "name") and q_toks[qs:qe] == r_toks[rs:re_]:
            # a literally-equal given name is plain literal evidence at
            # full weight — the reference's max-over-pairings drops the
            # symbol edge here ("Vladimir ... Putin"~"Vladimir Putin" is
            # 0.714 in the frozen run, not the NICK-weighted 0.692)
            continue
        for k in range(qs, qe):
            q_used[k] = True
        for k in range(rs, re_):
            r_used[k] = True
        chosen.append(((qs, qe), (rs, re_), cat))

    scored: list[tuple[float, float, tuple[str, ...], tuple[str, ...]]] = []
    for (qs, qe), (rs, re_), cat in chosen:
        qparts = q_toks[qs:qe]
        rparts = r_toks[rs:re_]
        qj, rj = "".join(qparts), "".join(rparts)
        if cat == "acro":
            score, weight = (0.9, 1.0)
            if qj == rj:
                score = 1.0
        elif cat == "orgx":
            # weak cross-class org evidence: half the ORG_CLASS score
            score, weight = SYM_SCORES["org"] * 0.5, SYM_WEIGHTS["org"]
        else:
            score, weight = SYM_SCORES[cat], SYM_WEIGHTS[cat]
            if qj == rj:
                # literal rescue: score 1.0, category weight retained
                score = 1.0
            elif len(qparts) == 1 and len(rparts) == 1:
                fuzzy = residue_fuzzy(qparts[0], rparts[0])
                if fuzzy > score:
                    score, weight = fuzzy, 1.0
        scored.append((score, weight, qparts, rparts))

    q_rem = tuple(t for t, u in zip(q_toks, q_used) if not u)
    r_rem = tuple(t for t, u in zip(r_toks, r_used) if not u)
    residue = _align_residue(q_rem, r_rem)
    if person and reorder:
        # persons write parts in either order: align both the original and
        # the best-pair reordering, keep whichever aligns more mass
        # (reorder alone can break the adjacency a cluster merge needs,
        # e.g. "Jan Daniel Bothma" ~ "JanDaniel Bothma").
        reordered = _person_reorder(q_rem, r_rem)
        if reordered != r_rem:
            alt = _align_residue(q_rem, reordered)
            def _mass(aligns):
                return sum(
                    _cluster_score(qp, rp) for qp, rp in aligns if qp and rp
                )
            if _mass(alt) > _mass(residue):
                residue = alt
    for qparts, rparts in residue:
        if qparts and rparts:
            w_pair = 1.0
            if (
                LOC_MISMATCH_WEIGHT != 1.0
                and len(qparts) == 1
                and len(rparts) == 1
            ):
                ql = {s for s in token_symbols_all(qparts[0]) if s.startswith("loc:")}
                rl = {s for s in token_symbols_all(rparts[0]) if s.startswith("loc:")}
                if ql and rl and not (ql & rl):
                    w_pair = LOC_MISMATCH_WEIGHT
            scored.append(
                (_cluster_score(qparts, rparts), w_pair, qparts, rparts)
            )
        elif qparts:
            scored.append(
                (0.0, _extra_weight(qparts, EXTRA_QUERY_WEIGHT, family), qparts, ())
            )
        else:
            scored.append(
                (0.0, _extra_weight(rparts, EXTRA_RESULT_WEIGHT, family), (), rparts)
            )

    total_s = total_w = 0.0
    for score, weight, qparts, rparts in scored:
        if qparts and rparts:
            if (
                len(qparts) == 1
                and qparts == rparts
                and qparts[0] in _STOP_EQ
            ):
                # an equal pure stopword is no evidence at all — the
                # frozen run scores "Government of Estonia" ~
                # "... Ethiopia" at 0.3/1.3 with "of"~"of" weightless
                continue
            # mismatched pairs with a single-stopword side dampen ×0.7
            # (match.py:92-99; "A."~"Ali" at 0.7 in the frozen run)
            if (len(qparts) == 1 and qparts[0] in _STOP_DAMPEN) or (
                len(rparts) == 1 and rparts[0] in _STOP_DAMPEN
            ):
                weight *= STOPWORD_DAMPEN
            if any(p in family for p in qparts + rparts):
                weight *= FAMILY_NAME_WEIGHT
        total_s += score * weight
        total_w += weight
    total = total_s / total_w if total_w > 0 else 0.0
    if not drop_acro and any(cat == "acro" for _, _, cat in chosen):
        total = max(total, _alignment_score(q, r, person, family, True, reorder))
    return total


def _loc_stripped(alt: tuple) -> tuple | None:
    """Variant with LOCATION-tagged tokens removed — orgs commonly drop
    the locality suffix ("PLA China" ~ "People's Liberation Army")."""
    toks, _, _, all_runs = alt
    loc_idx = {
        i
        for i, t in enumerate(toks)
        if any(s.startswith("loc:") for s in token_symbols_all(t))
    }
    if not loc_idx or len(loc_idx) == len(toks):
        return None
    kept = " ".join(t for i, t in enumerate(toks) if i not in loc_idx)
    stripped = _analyze(kept)
    return stripped[0] if stripped else None


def _tag_of(tok: str, tags: tuple[frozenset[str], frozenset[str]] | None):
    """'g' / 'f' / None for a comparable token under a (given, family)
    tag-set pair; tokens claimed by both prop families carry no tag."""
    if tags is None:
        return None
    given, fam = tags
    g, f = tok in given, tok in fam
    if g and not f:
        return "g"
    if f and not g:
        return "f"
    return None


def _part_tags_compatible(
    q_toks: tuple[str, ...],
    r_toks: tuple[str, ...],
    q_tags,
    r_tags,
) -> bool:
    """The literal-early-exit guard of ``util.py:part_tags_compatible``
    (reference: nomenklatura/matching/logic_v2/names/util.py:6-18): zip
    the two part sequences in sorted-COMPARABLE order — the order in
    which the ``q[1] == r[1]`` multiset equality was established — and
    refuse the 1.0 short-circuit when any position pairs a given-tagged
    part against a family-tagged one.  Written order would let a role
    swap through: a query with firstName=Putin/lastName=Vladimir against
    a "PUTIN, Vladimir" alias pairs g↔g/f↔f positionally even though the
    family name matched the given name; in comparable order the same
    token carries g on one side and f on the other and the pair is
    blocked, while a correctly-tagged "Family, Given" reordering stays
    compatible.  Keying the sort on the RAW tokens (the pre-round-4 bug)
    broke the pairing whenever legal-form canonicalisation rewrote a
    token or collapsed a phrase: "GmbH" vs "Gesellschaft mit
    beschraenkter Haftung" yields unequal token counts, so the raw zip
    truncated and checked the wrong positions — a role swap behind a
    collapsed phrase short-circuited to 1.0.  Comparable-equal sides
    always have equal SEGMENT counts, so the comparable-keyed zip is
    total.  Same-comparable ties sort by tag rank on both sides (a
    duplicate token legitimately carrying both roles pairs role-to-role).
    Untagged parts match anything, like the reference's ANY tag."""
    if q_tags is None or r_tags is None:
        return True

    def keyed(toks, tags):
        out = []
        for s, e, v in _comp_segments(toks):
            # a collapsed legal phrase is org material — never carries a
            # given/family tag; single tokens tag by the raw token (the
            # tag sets hold analyzed name-part tokens, not comparables)
            tag = _tag_of(toks[s], tags) if e - s == 1 else None
            out.append((v, tag))
        out.sort(key=lambda p: (p[0], _TAG_RANK[p[1]]))
        return out

    for (_, a), (_, b) in zip(keyed(q_toks, q_tags), keyed(r_toks, r_tags)):
        if a is not None and b is not None and a != b:
            return False
    return True


_TAG_RANK = {"g": 0, None: 1, "f": 2}


def _tag_sort(toks: tuple[str, ...], tags) -> tuple[str, ...]:
    """Stable given-first/family-last part order (``NamePart.tag_sort``):
    the alignment fallback for tag-blocked literal pairs aligns both
    sides in role order, so a role swap pairs unequal strings and the
    mismatch costs score instead of short-circuiting to 1.0."""
    return tuple(sorted(toks, key=lambda t: _TAG_RANK[_tag_of(t, tags)]))


@lru_cache(maxsize=200_000)
def name_pair_score(
    query: str,
    result: str,
    family: frozenset[str] = frozenset(),
    person: bool | None = None,
    q_tags: tuple[frozenset[str], frozenset[str]] | None = None,
    r_tags: tuple[frozenset[str], frozenset[str]] | None = None,
) -> float:
    best = 0.0
    for q in _analyze(query):
        for r in _analyze(result):
            if person is None:
                org_cats = ("org:", "sym:", "dom:")
                is_org = any(
                    s.startswith(org_cats) for _, _, s in q[2] + r[2]
                )
                per = not is_org
            else:
                per = person
            if q[1] == r[1]:
                if _part_tags_compatible(q[0], r[0], q_tags, r_tags):
                    return 1.0
                # Tag-contradicting literal pair: fall through to the
                # alignment machinery in role order with the person
                # reorder disabled (the reorder would re-derive the 1.0
                # the guard just refused) — the role swap now pairs
                # unequal strings and is penalised, like the reference's
                # tag-aware compare_parts.
                qq = (_tag_sort(q[0], q_tags),) + q[1:]
                rr = (_tag_sort(r[0], r_tags),) + r[1:]
                s = _alignment_score(qq, rr, per, family, reorder=False)
                if s > best:
                    best = s
                continue
            variants = [(q, r)]
            if not per:
                q_alt, r_alt = _loc_stripped(q), _loc_stripped(r)
                # strip locality only when the other side carries none
                if q_alt is not None and r_alt is None:
                    variants.append((q_alt, r))
                if r_alt is not None and q_alt is None:
                    variants.append((q, r_alt))
            for qv, rv in variants:
                s = _alignment_score(qv, rv, per, family)
                if s > best:
                    best = s
                    if best >= 1.0:
                        return 1.0
    return best


@lru_cache(maxsize=100_000)
def _family_parts(name: str) -> tuple[str, ...]:
    return tuple(t for alt in _analyze(name) for t in alt[0])


def _side_tags(
    given_names: list[str] | None, family_names: list[str] | None
) -> tuple[frozenset[str], frozenset[str]] | None:
    """(given, family) comparable-token sets for one entity side, derived
    from its firstName/lastName statement values — the engine's stand-in
    for the reference's property-driven part tagging
    (``followthemoney.names.entity_names``).  Returns None when the side
    carries no tagging evidence, which disables the guard exactly like
    the reference's untagged (ANY) parts."""
    given = frozenset(
        p for n in (given_names or []) for p in _family_parts(n)
    )
    fam = frozenset(
        p for n in (family_names or []) for p in _family_parts(n)
    )
    if not given and not fam:
        return None
    return (given, fam)


def name_match(
    query_names: list[str],
    result_names: list[str],
    family_names: list[str] | None = None,
    person: bool | None = None,
    query_given: list[str] | None = None,
    query_family: list[str] | None = None,
    result_given: list[str] | None = None,
    result_family: list[str] | None = None,
) -> float:
    """Max over the (query, result) name product with 1.0 early exit.

    ``*_given``/``*_family`` carry each side's firstName/lastName
    statement values; they feed the literal-early-exit part-tag guard
    (``util.py:part_tags_compatible``) and change nothing when absent
    (name-only corpora analyse exactly as before).
    """
    family = frozenset(
        p for n in (family_names or []) for p in _family_parts(n)
    )
    q_tags = _side_tags(query_given, query_family)
    r_tags = _side_tags(result_given, result_family)
    best = 0.0
    for qn in query_names or []:
        for rn in result_names or []:
            s = name_pair_score(qn, rn, family, person, q_tags, r_tags)
            if s > best:
                best = s
                if best >= 1.0:
                    return 1.0
    return best


# --- object-name matching (match.py:141-171) -------------------------------

_OBJ_PREFIX_RE = re.compile(r"^(?:m[/.]?[vsty]|s[/.]?[sy]|rms|hms|uss|fv|mfv)[\s.]+")
_NUMERIC_RE = re.compile(r"\d+")


def _obj_norm(name: str) -> str:
    s = _OBJ_PREFIX_RE.sub("", name.lower().strip())
    return " ".join(t for t in _SPLIT_RE.split(s) if t)


def obj_numbers_mismatch(query: str, result: str) -> bool:
    """Query-side numerals absent from the result (``util.py:58-64``)."""
    return bool(
        set(_NUMERIC_RE.findall(query)) - set(_NUMERIC_RE.findall(result))
    )


def object_name_match(query_names: list[str], result_names: list[str]) -> float:
    """Whole-name strict Levenshtein (1 edit per 5 chars) over the name
    product after vessel-prefix stripping; numerals missing on the result
    side cost ×(1 - 0.3)."""
    best = 0.0
    r_norms = [_obj_norm(n) for n in result_names or []]
    for qn in query_names or []:
        q = _obj_norm(qn)
        if not q:
            continue
        for r in r_norms:
            if not r:
                continue
            score = strict_levenshtein_py(q, r, max_rate=5)
            if obj_numbers_mismatch(q, r):
                score *= 1.0 - NUMBER_MISMATCH_PENALTY
            if score > best:
                best = score
    return best


@F.pandas_udf(T.DoubleType())
def object_name_match_udf(q: pd.Series, r: pd.Series) -> pd.Series:
    return pd.Series(
        [object_name_match(list(qn or []), list(rn or [])) for qn, rn in zip(q, r)]
    )


@F.pandas_udf(T.DoubleType())
def name_match_udf(
    q: pd.Series,
    r: pd.Series,
    fam: pd.Series,
    person: pd.Series,
    q_given: pd.Series,
    q_family: pd.Series,
    r_given: pd.Series,
    r_family: pd.Series,
) -> pd.Series:
    return pd.Series(
        [
            name_match(
                list(qn or []),
                list(rn or []),
                list(fn or []),
                person=bool(p),
                query_given=list(qg or []),
                query_family=list(qf or []),
                result_given=list(rg or []),
                result_family=list(rf or []),
            )
            for qn, rn, fn, p, qg, qf, rg, rf in zip(
                q, r, fam, person, q_given, q_family, r_given, r_family
            )
        ]
    )


# --- address matching (C14) ------------------------------------------------

_ADDR_DROP = frozenset(
    "street str st road rd avenue ave boulevard blvd lane ln suite ste floor "
    "fl apt unit building bldg po box".split()
)


@lru_cache(maxsize=100_000)
def _addr_tokens(addr: str) -> frozenset[str]:
    return frozenset(
        t for t in _SPLIT_RE.split(addr.lower()) if t and t not in _ADDR_DROP
    )


def address_match(query_addrs: list[str], result_addrs: list[str]) -> float:
    """Token-overlap + sorted-residue Levenshtein blend:
    score = (|overlap| + rem * lev) / (rem + |overlap|); subset → 1.0."""
    best = 0.0
    q_sets = [_addr_tokens(a) for a in query_addrs or []]
    r_sets = [_addr_tokens(a) for a in result_addrs or []]
    for qt in q_sets:
        for rt in r_sets:
            if not qt or not rt:
                continue
            overlap = qt & rt
            if len(overlap) == len(qt) or len(overlap) == len(rt):
                return 1.0
            q_rem = sorted(qt - overlap)
            r_rem = sorted(rt - overlap)
            q_fuzzy, r_fuzzy = " ".join(q_rem), " ".join(r_rem)
            max_len = max(len(q_fuzzy), len(r_fuzzy))
            lev = 1.0 - levenshtein(q_fuzzy, r_fuzzy) / max_len if max_len else 0.0
            rem_len = max(len(q_rem), len(r_rem))
            score = (len(overlap) + rem_len * lev) / (rem_len + len(overlap))
            best = max(best, score)
    return best


@F.pandas_udf(T.DoubleType())
def address_match_udf(q: pd.Series, r: pd.Series) -> pd.Series:
    return pd.Series(
        [address_match(list(qn or []), list(rn or [])) for qn, rn in zip(q, r)]
    )


# --- identifier format matchers (C12, logic_v2/identifiers.py:57-173) ------

ID_FORMATS = {
    # format: (regex over cleaned uppercase values, score)
    "lei": (r"^[0-9A-Z]{18}[0-9]{2}$", 0.95),
    "isin": (r"^[A-Z]{2}[0-9A-Z]{9}[0-9]$", 0.98),
    "bic": (r"^[A-Z]{4}[A-Z]{2}[0-9A-Z]{2}([0-9A-Z]{3})?$", 0.95),
    "ogrn": (r"^[15][0-9]{12}$", 0.95),
    "inn": (r"^[0-9]{10}([0-9]{2})?$", 0.95),
    "imo": (r"^IMO[0-9]{7}$", 0.95),
    # UEI: 12 alphanumeric, no O/I, first char nonzero (SAM.gov format).
    "uei": (r"^[A-HJ-NP-Z1-9][A-HJ-NP-Z0-9]{11}$", 0.95),
    # NPI: 10 digits starting 1/2; Luhn checksum verified (see _npi_valid).
    "npi": (r"^[12][0-9]{9}$", 0.95),
}


def _npi_valid(x):
    """CMS NPI check: Luhn over the 9 identifier digits with the
    published ``80840``-prefix constant 24; the 10th digit is the check
    digit.  Pure column arithmetic (9 unrolled terms), no UDF."""
    def dig(i: int):
        return F.substring(x, i, 1).cast("int")

    total = F.lit(24)
    for i in range(1, 10):
        v = dig(i)
        if i % 2 == 1:  # d1, d3, ... d9 double (alternating from the left)
            doubled = v * 2
            v = F.when(doubled > 9, doubled - 9).otherwise(doubled)
        total = total + v
    return (total + dig(10)) % 10 == 0


def format_identifier_scores(l_ids, r_ids) -> list:
    """One column per identifier format: 1.0 iff a value matching the
    format's shape appears on both sides.  Pure column expressions
    (upper + filter + arrays_overlap) — no UDF."""
    def _keeper(pattern: str, fmt: str):
        # F.filter introspects the lambda arity — exactly one parameter.
        def keep(x):
            ok = x.rlike(pattern)
            if fmt == "npi":
                ok = ok & _npi_valid(x)
            return ok

        return keep

    cols = []
    for name, (pattern, _w) in ID_FORMATS.items():
        keep = _keeper(pattern, name)
        lf = F.filter(
            F.transform(l_ids, lambda x: F.upper(F.regexp_replace(x, r"[\s-]", ""))),
            keep,
        )
        rf = F.filter(
            F.transform(r_ids, lambda x: F.upper(F.regexp_replace(x, r"[\s-]", ""))),
            keep,
        )
        cols.append(
            F.when(F.arrays_overlap(lf, rf), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias(f"f_id_{name}")
        )
    return cols


# --- LogicV2 matcher -------------------------------------------------------

LOGIC_V2_FEATURES = [
    Feature("f_name_v2", 1.0),
    Feature("f_address_entity", 0.98),
    Feature("f_crypto_wallet", 0.98),
    Feature("f_id_isin", 0.98),
    Feature("f_id_lei", 0.95),
    Feature("f_id_ogrn", 0.95),
    Feature("f_id_imo", 0.95),
    Feature("f_id_inn", 0.95),
    Feature("f_id_bic", 0.95),
    Feature("f_id_uei", 0.95),
    Feature("f_id_npi", 0.95),
    Feature("f_identifier", 0.85),
    Feature("f_weak_alias", 0.8),
    Feature("f_address_prop", 0.2, qualifier=True),
    Feature("f_country_mismatch", -0.2, qualifier=True),
    Feature("f_dob_year_disjoint", -0.15, qualifier=True),
    Feature("f_dob_day_disjoint", -0.25, qualifier=True),
    Feature("f_gender_mismatch", -0.2, qualifier=True),
]


def score_pairs_logic_v2(pairs: DataFrame) -> DataFrame:
    """LogicV2 scoring over an assembled pair frame (X1 combination).

    Expects the pair frame from ``operators.pairs`` (l_/r_ prefixed
    feature arrays incl. ``l_addresses``/``l_last_names``).
    """
    # first_names joined the feature map with the part-tag guard; accept
    # pair frames assembled before that (no tagging evidence → guard off)
    for c in ("l_first_names", "r_first_names"):
        if c not in pairs.columns:
            pairs = pairs.withColumn(c, F.array().cast("array<string>"))
    is_address = (F.col("l_schema") == "Address") & (F.col("r_schema") == "Address")
    is_obj = F.col("l_schema").isin(*OBJ_SCHEMAS) & F.col("r_schema").isin(
        *OBJ_SCHEMAS
    )
    df = pairs.select(
        "*",
        # both UDFs are hoisted into one ArrowEvalPython node and run on
        # EVERY row regardless of the when() (SPARK-22347).  Deliberately
        # NOT input-gated: wrapping the name columns in when(is_obj, ...)
        # breaks Arrow column sharing between the two kernels and adds a
        # per-row projection, measured 30% SLOWER on the sf0.1 compare
        # bench than letting the cheap object kernel run everywhere on
        # the shared batch (interleaved A/B, median 0.91s vs 1.16s).
        F.when(
            is_obj,
            object_name_match_udf(F.col("l_names"), F.col("r_names")),
        )
        .otherwise(
            name_match_udf(
                F.col("l_names"),
                F.col("r_names"),
                F.col("r_last_names"),
                (F.col("l_schema") == "Person") & (F.col("r_schema") == "Person"),
                F.col("l_first_names"),
                F.col("l_last_names"),
                F.col("r_first_names"),
                F.col("r_last_names"),
            )
        )
        .alias("f_name_v2"),
        F.when(
            is_address,
            address_match_udf(F.col("l_addresses"), F.col("r_addresses")),
        )
        .otherwise(F.lit(0.0))
        .alias("f_address_entity"),
        F.when(
            ~is_address,
            address_match_udf(F.col("l_addresses"), F.col("r_addresses")),
        )
        .otherwise(F.lit(0.0))
        .alias("f_address_prop"),
        C.crypto_wallet_address(
            F.col("l_public_keys"),
            F.col("r_public_keys"),
            F.col("l_schema"),
            F.col("r_schema"),
        ).alias("f_crypto_wallet"),
        C.identifier_match(F.col("l_identifiers"), F.col("r_identifiers")).alias(
            "f_identifier"
        ),
        C.weak_alias_match(F.col("l_names"), F.col("r_weak_aliases")).alias(
            "f_weak_alias"
        ),
        C.country_mismatch(F.col("l_countries"), F.col("r_countries")).alias(
            "f_country_mismatch"
        ),
        C.dob_year_disjoint(F.col("l_birth_dates"), F.col("r_birth_dates")).alias(
            "f_dob_year_disjoint"
        ),
        C.dob_day_disjoint(F.col("l_birth_dates"), F.col("r_birth_dates")).alias(
            "f_dob_day_disjoint"
        ),
        C.gender_mismatch(F.col("l_genders"), F.col("r_genders")).alias(
            "f_gender_mismatch"
        ),
        *format_identifier_scores(F.col("l_identifiers"), F.col("r_identifiers")),
    )
    return heuristic_score(df, LOGIC_V2_FEATURES)
