"""Unit tests for the engine's rule implementations on plain Python data
(no JVM) — SURVEY.md test 5.2-3."""

import os
import random

from ocr_proofreader_spark.functions.rules import (DocProofreader, LexIndex,
                                                   TOKEN_RE, dist_le2, recase)
from ocr_proofreader_spark.lexicon import load_base_lexicon

LEX = LexIndex(frozenset(
    "the a of day beautiful some such fine house horse chapter part one two "
    "three word words dog dogs quick brown fox".split()))


def _pr(freq=None):
    return DocProofreader(LEX, freq_k=5, freq=dict(freq or {}))


def test_tokenizer_classes():
    assert TOKEN_RE.findall("don't stop-go 42 naïve!") == [
        "don't", "stop-go", "42", "naïve"]


def test_dist_le2_edges():
    assert dist_le2("abc", "abc") == 0
    assert dist_le2("abc", "abd") == 1
    assert dist_le2("abc", "abcd") == 1
    assert dist_le2("abc", "acbd") == 2
    assert dist_le2("abc", "xyz") == 3
    assert dist_le2("", "ab") == 2
    assert dist_le2("", "abc") == 3


def test_recase_patterns():
    assert recase("house", "Houfe") == "House"
    assert recase("house", "HOUFE") == "HOUSE"
    assert recase("house", "houfe") == "house"


def test_hyphen_repair_chained():
    pr = _pr()
    assert pr.repair_hyphenation(["the beau-", "tiful day"]) == [
        "the beautiful day"]
    # unknown join untouched
    assert pr.repair_hyphenation(["the xq-", "zw day"]) == [
        "the xq-", "zw day"]
    # remainder empty: no trailing space
    assert pr.repair_hyphenation(["beau-", "tiful"]) == ["beautiful"]


def test_correct_line_ligatures_and_longs():
    pr = _pr()
    assert pr.correct_line("a ﬁne day") == "a fine day"
    assert pr.correct_line("fome day") == "some day"


def test_correct_token_memoized_counts():
    # the second span hits the per-doc token memo
    pr = _pr()
    assert pr.correct_span("worde") == "words"
    first = pr.corrections
    assert pr.correct_span("worde") == "words"
    assert pr.corrections == first + 1  # memo still counts per occurrence


def test_capitalized_unknown_flagged():
    pr = _pr()
    assert pr.correct_span("Zxqvw") == "Zxqvw"
    assert pr.flagged == 1
    assert pr.corrections == 0


def test_book_frequent_word_becomes_known():
    pr = _pr(freq={"zzyzx": 7})
    assert pr.correct_span("zzyzx") == "zzyzx"
    assert pr.flagged == 0


def test_distance2_needs_freq3():
    # 'wodrs' -> 'words' is a transposition, i.e. Levenshtein distance 2:
    # corrected only if freq >= 3
    pr = _pr(freq={})
    assert pr.correct_span("wodrs") == "wodrs"
    assert pr.flagged == 1
    pr2 = _pr(freq={"words": 3})
    assert pr2.correct_span("wodrs") == "words"


def test_heading_regex_and_allcaps():
    assert DocProofreader.is_heading("CHAPTER II", False, False)
    assert DocProofreader.is_heading("BOOK I.", False, False)
    assert not DocProofreader.is_heading("CHAPTER two", False, False)
    assert DocProofreader.is_heading("THE GREAT FOREST", True, True)
    assert not DocProofreader.is_heading("THE GREAT FOREST", False, True)
    assert not DocProofreader.is_heading(
        "A B C D E F G", True, True)  # 7 single-letter tokens
    assert not DocProofreader.is_heading("ONE TWO THREE FOUR FIVE SIX SEVEN",
                                         True, True)


def test_dist_le2_matches_reference_levenshtein():
    """dist_le2 (banded DP + closed forms for small stripped cores) must
    equal a plain-DP Levenshtein clamped at 3, exhaustively over a small
    alphabet plus random longer words — this pins the closed-form cases
    ((1,1),(1,2),(2,2),(0,2),(1,3),(2,3),(2,4)) added for speed."""
    import itertools
    import random

    from ocr_proofreader_spark.functions.rules import dist_le2

    def lev(a, b):
        d = list(range(len(b) + 1))
        for i in range(1, len(a) + 1):
            prev, d[0] = d[0], i
            for j in range(1, len(b) + 1):
                cur = d[j]
                d[j] = min(d[j] + 1, d[j - 1] + 1,
                           prev + (a[i - 1] != b[j - 1]))
                prev = cur
        return min(d[len(b)], 3)

    strs = [""]
    for L in range(1, 5):
        strs += ["".join(p) for p in itertools.product("abc", repeat=L)]
    for a in strs:
        for b in strs:
            assert dist_le2(a, b) == lev(a, b), (a, b)
    rng = random.Random(7)
    for _ in range(20000):
        a = "".join(rng.choice("abcdef")
                    for _ in range(rng.randint(3, 10)))
        b = "".join(rng.choice("abcdef")
                    for _ in range(rng.randint(3, 10)))
        assert dist_le2(a, b) == lev(a, b), (a, b)


# -- R4: bucket scan vs neighbourhood arm ------------------------------------

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "fixtures")


def _edit(rng, w: str, alphabet: str) -> str:
    """One random delete, substitute, insert or adjacent transposition."""
    i = rng.randrange(len(w))
    op = rng.randrange(4)
    if op == 0 and len(w) > 1:
        return w[:i] + w[i + 1:]
    if op == 1:
        return w[:i] + rng.choice(alphabet) + w[i + 1:]
    if op == 3 and i + 1 < len(w):
        return w[:i] + w[i + 1] + w[i] + w[i + 2:]
    j = rng.randrange(len(w) + 1)
    return w[:j] + rng.choice(alphabet) + w[j:]


def _doc(rng, base: frozenset, words: list[str], alphabet: str):
    """A book's freq map and its R4 query tokens.  The map holds base words
    at counts 1-4 and 5-30, non-base near-misses at counts 1-12 (the
    frequent ones use characters outside the lexicon's alphabet, so the
    doc's edit alphabet must grow), and non-alphabetic frequent words,
    which are never candidates.  Tokens are 1-2 random edits of base or
    book words, in random case."""
    freq = {}
    for w in rng.sample(words, min(len(words), 120)):
        freq[w] = rng.randint(1, 4) if rng.random() < 0.7 \
            else rng.randint(5, 30)
    extra = alphabet + "øßþæ"
    for w in rng.sample(words, min(len(words), 60)):
        nw = _edit(rng, w, extra)
        if nw not in base:
            freq[nw] = rng.choice((1, 2, 3, 4, 5, 7, 12))
    freq["o'neil"] = 9
    freq["x-ray"] = 6
    pool = words[:] if len(words) < 400 else rng.sample(words, 400)
    pool += [w for w in freq if w.isalpha()]
    toks = []
    for _ in range(250):
        t = rng.choice(pool)
        for _ in range(rng.randint(1, 2)):
            t = _edit(rng, t, extra)
        toks.append(rng.choice((t, t.capitalize(), t.upper())))
    return freq, toks


def test_r4_arms_agree(md5_lexicon):
    """Both R4 arms, called directly, give the same ``_scorer_fix``
    result (recase included) on 7 500 seeded tokens over the base, the
    accented French and a 3*10^4-word md5 lexicon."""
    lexicons = {
        "base": load_base_lexicon(os.path.join(FIXTURES, "lexicon_base.txt")),
        "fr": load_base_lexicon(os.path.join(FIXTURES, "lexicon_fr.txt")),
        "md5": md5_lexicon}
    rng = random.Random(8)
    outcomes = {"d1": 0, "d2": 0, "none": 0}
    for name, base in lexicons.items():
        lex = LexIndex(base)
        words = sorted(base)
        for _ in range(10):
            freq, toks = _doc(rng, base, words, lex.alphabet)
            pr = DocProofreader(lex, freq_k=5, freq=freq)
            for tok in toks:
                got = pr._neighbourhood_fix(tok)
                assert got == pr._scan_fix(tok), (name, tok)
                if got is None:
                    outcomes["none"] += 1
                else:
                    outcomes[f"d{dist_le2(tok.lower(), got.lower())}"] += 1
    assert sum(outcomes.values()) == 7500
    assert min(outcomes.values()) >= 500, outcomes


def test_r4_inserts_apostrophe_and_hyphen(md5_lexicon):
    """A base word reachable only by inserting ``'`` or ``-`` is found by
    both arms, and the crossover sends these queries to the neighbourhood
    arm, whose alphabet must therefore hold both characters."""
    lex = LexIndex(md5_lexicon | {"o'clock", "well-born"})
    pr = DocProofreader(lex, freq_k=5, freq={})
    for tok, want in (("oclock", "o'clock"), ("wellborn", "well-born")):
        assert [w for w in lex.base if dist_le2(tok, w) <= 1] == [want]
        assert lex.spans[tok[0], len(tok)] > 2 * len(tok) * len(lex.alphabet)
        assert pr._neighbourhood_fix(tok) == want
        assert pr._scan_fix(tok) == want
        assert pr._scorer_fix(tok) == want
