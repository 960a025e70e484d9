"""Engine-side implementation of the frozen proofreading rules R1-R6
(SURVEY.md section 2.3).

This is the FAST implementation that runs inside Arrow-vectorized UDFs on
executors.  It is written independently from the slow pure-Python oracle
(``oracle/refsem.py``); tests demand span-sequence equality between the two
on every document (BASELINE.json:15).  Optimizations over the oracle:

* R4 candidate search in one of two exact arms, chosen per query by
  comparing sizes (``DocProofreader._scorer_fix``):

  - the *bucket scan* walks the lexicon's (first-letter, length +-2)
    buckets, and is used while that span is no larger than the token's
    edit neighbourhood (~2 * len * |alphabet| strings);
  - the *neighbourhood arm* probes the token's plain-Levenshtein edits1
    strings that keep its first letter against the base and book-frequent
    words, and only when none hits scans the book's words of frequency
    >= 3.  R4 accepts ``d == 1 or (d == 2 and f >= 3)``, so any d=1
    candidate outranks every d=2 one and a d=2 winner must have f >= 3:
    neither step depends on the lexicon's size;

* per-document memoization -> each unique token is corrected once;
* common-prefix/suffix stripping + banded DP for the distance<=2 check;
* known-token fast path via a single set probe.

No Spark imports here: the module is picklable into Python workers and unit
-testable on plain lists/pandas Series.
"""

from __future__ import annotations

import re
from itertools import chain

# --- R1 tokenization (identical character classes to the frozen spec) -----
# The only spelling of the alphabetic and token classes in the engine: the
# JVM-side tokenizer (operators/word_freq.py) builds its Java regexes from
# these strings, which mean the same in Python and Java.
ALPHA_CLASS = "A-Za-zÀ-ÿ"
TOKEN_CLASS = ALPHA_CLASS + "0-9'’-"
TOKEN_RE = re.compile(f"[{TOKEN_CLASS}]+")
# capturing variant: re.split(line) alternates passthrough / token parts
# (odd indices are tokens) — one C-level call replaces the per-match
# finditer + group/start/end bookkeeping in the hottest loop
TOKEN_SPLIT_RE = re.compile(f"([{TOKEN_CLASS}]+)")
ALPHA_RE = re.compile(rf"[{ALPHA_CLASS}]+\Z")
HAS_LETTER_RE = re.compile(f"[{ALPHA_CLASS}]")
LOWER_RE = re.compile(r"[a-zà-ÿ]")
UPPER_RE = re.compile(r"[A-ZÀ-Þ]")

HYPHEN_TAIL_RE = re.compile(rf"([{ALPHA_CLASS}]+)-\Z")
WORD_HEAD_RE = re.compile(f"[{ALPHA_CLASS}]+")

# S11: a word with book frequency >= K joins the lexicon
FREQ_K = 5

LIG_TRANSLATE = str.maketrans({
    "ﬁ": "fi", "ﬂ": "fl", "ﬀ": "ff", "ﬃ": "ffi", "ﬄ": "ffl", "ſ": "s"})
LIG_CHARS = "ﬁﬂﬀﬃﬄſ"
COND_LIG_TRANSLATE = str.maketrans({"Æ": "Ae", "æ": "ae", "Œ": "Oe", "œ": "oe"})
COND_LIG_CHARS = "Ææ Œœ".replace(" ", "")
# C-speed presence scans — the equivalent any(c in ... for c in s)
# generator was ~25% of the whole rule chain's wall in profiling
LIG_RE = re.compile(f"[{LIG_CHARS}]")
COND_LIG_RE = re.compile(f"[{COND_LIG_CHARS}]")

HEADING_RE = re.compile(r"^(CHAPTER|CHAPITRE|BOOK|PART)\b[A-Z0-9 .IVXLC-]*$")

FS_SWAP = {"f": "s", "s": "f"}


def char_masks(w: str) -> tuple[int, int]:
    """Count-clamped character signature: (chars appearing >= 1,
    chars appearing >= 2) as two 32-bit masks.  a-z map injectively to
    bits 0..25; anything else hashes into the same 32-bit space
    (collisions only weaken — never invalidate — the bound).  Per char c the pair
    encodes min(count(c), 2), so

        popcount(a1 & ~b1) + popcount(a2 & ~b2)
          = sum_c max(0, min(cnt_a(c), 2) - min(cnt_b(c), 2))

    and each edit changes that sum by at most 1 — a strictly tighter
    distance-<=2 lower bound than the 1-bit mask (it also rejects
    repeated-letter mismatches like 'aab' vs 'abb'), for two extra
    popcounts per candidate.  Zero false rejections by construction;
    measured ~30-40% fewer banded-DP calls on the bench corpus."""
    m1 = 0
    m2 = 0
    for c in w:
        b = 1 << ((ord(c) - 97) & 31)
        if m1 & b:
            m2 |= b
        else:
            m1 |= b
    return m1, m2


def dist_le2(a: str, b: str) -> int:
    """Levenshtein distance if <= 2, else 3.  Prefix/suffix strip + banded
    DP (band half-width 2); inner loop inlined (no min() calls) — this is
    the single hottest function in the engine."""
    la, lb = len(a), len(b)
    if a == b:
        return 0
    if la > lb:
        a, b, la, lb = b, a, lb, la
    if lb - la > 2:
        return 3
    # strip common prefix / suffix
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    j = 0
    while j < la - i and a[la - 1 - j] == b[lb - 1 - j]:
        j += 1
    a = a[i:la - j]
    b = b[i:lb - j]
    m, n = len(a), len(b)
    if m == 0:
        return n if n <= 2 else 3
    # closed forms for small stripped cores (~60% of calls after the
    # mask prefilter).  Maximal stripping guarantees a[0] != b[0] and
    # (for m > 0) a[-1] != b[-1], which pins each case:
    if m == 1:
        if n == 1:
            return 1          # single substitution
        if n == 2:
            return 2          # sub + insert (ends both differ)
        return 2 if a in b[1:-1] else 3   # n == 3: a must be b's middle
    if m == 2:
        if n == 2:
            return 2          # two substitutions always suffice
        if n == 3:
            a0, a1 = a
            # one deletion of b, then hamming <= 1 vs a
            for x, y in ((b[1], b[2]), (b[0], b[2]), (b[0], b[1])):
                if x == a0 or y == a1:
                    return 2
            return 3
        # n == 4: two deletions -> d=2 iff a is a subsequence of b
        p = b.find(a[0])
        return 2 if 0 <= p and a[1] in b[p + 1:] else 3
    prev = list(range(n + 1))
    for r in range(1, m + 1):
        ca = a[r - 1]
        cur = [r]
        append = cur.append
        left = r                      # cur[c-1]
        row_min = r
        for c in range(1, n + 1):
            v = prev[c - 1]
            if ca != b[c - 1]:
                v += 1
            x = prev[c] + 1
            if x < v:
                v = x
            x = left + 1
            if x < v:
                v = x
            append(v)
            left = v
            if v < row_min:
                row_min = v
        if row_min > 2:
            return 3
        prev = cur
    d = prev[n]
    return d if d <= 2 else 3


class LexIndex:
    """Base-lexicon index: membership set + (first, len) buckets of
    (word, mask_ge1, mask_ge2) triples — the masks feed the R4
    count-clamped prefilter (char_masks).

    ``known_hits`` is a CROSS-document memo of base-known token forms
    (token -> (token, 0, 0)): a base-known token corrects to itself with
    no counters regardless of per-book frequencies, so the result is
    safe to share across every doc that ever probes this index — and the
    index itself is cached per worker process, so common words pay their
    per-doc memo miss only once per task lifetime instead of once per
    document (r6: ~15-20% off the rules chain; guide section 4.5, amortize
    per-task state).  Size-capped so a pathological cased-form flood
    cannot grow it without bound.

    ``spans[(first, L)]`` is how many base words an R4 bucket scan for a
    token of first letter ``first`` and length ``L`` visits (the buckets
    ``(first, L-2 .. L+2)``), and ``alphabet`` holds every character of
    the base words.  ``DocProofreader._scorer_fix`` compares the two to
    choose between the bucket scan and the neighbourhood arm, whose edit
    strings draw their characters from ``alphabet``."""

    __slots__ = ("base", "buckets", "spans", "alphabet", "known_hits")
    KNOWN_HITS_CAP = 1_000_000

    def __init__(self, base: frozenset):
        self.base = base
        self.known_hits: dict[str, tuple[str, int, int]] = {}
        buckets: dict[tuple[str, int],
                      list[tuple[str, int, int]]] = {}
        for w in sorted(base):
            m1, m2 = char_masks(w)
            buckets.setdefault((w[0], len(w)), []).append((w, m1, m2))
        self.buckets = buckets
        spans: dict[tuple[str, int], int] = {}
        for (first, ln), lst in buckets.items():
            for L in range(max(1, ln - 2), ln + 3):
                spans[first, L] = spans.get((first, L), 0) + len(lst)
        self.spans = spans
        self.alphabet = "".join(sorted(set("".join(base))))

    def bucket_candidates(self, first: str, length: int):
        for ln in range(max(1, length - 2), length + 3):
            lst = self.buckets.get((first, ln))
            if lst:
                yield from lst


def recase(candidate: str, original: str) -> str:
    if original.isupper() and len(original) > 1:
        return candidate.upper()
    if original[:1].isupper():
        return candidate[:1].upper() + candidate[1:]
    return candidate


class DocProofreader:
    """Proofreads one document (rules R1-R6) with per-doc memoization.

    ``freq``: per-book raw-token frequencies; computed from the spans
    themselves when None (the shuffle-free fast path), or injected by the
    chunked skew path where a chunk cannot see the whole book."""

    __slots__ = ("lex", "freq_k", "freq", "_freq_buckets", "_neighbourhood",
                 "_memo", "corrections", "flagged")

    def __init__(self, lex: LexIndex, freq_k: int = FREQ_K,
                 freq: dict[str, int] | None = None):
        self.lex = lex
        self.freq_k = freq_k
        self.freq = freq if freq is not None else {}
        self._freq_buckets: dict[
            tuple[str, int], list[tuple[str, int, int]]] | None = None
        self._neighbourhood: tuple[
            set[str], str, dict[tuple[str, int], list[str]]] | None = None
        self._memo: dict[str, tuple[str, int, int]] = {}
        self.corrections = 0
        self.flagged = 0

    # -- lexicon membership -------------------------------------------------

    def known(self, tok: str) -> bool:
        w = tok.lower()
        if w in self.lex.base:
            return True
        return (self.freq.get(w, 0) >= self.freq_k
                and ALPHA_RE.match(w) is not None)

    def count_freq(self, spans) -> None:
        # Counter.update loops in C; same counts as the per-token dict
        from collections import Counter
        freq = Counter(self.freq)
        for sp in spans:
            if sp["kind"] == "text" and sp["text"]:
                # tokenize THEN casefold (lowercasing the raw text first
                # would change token boundaries for chars like 'Ÿ' whose
                # lowercase form enters the token class); map() keeps the
                # fold C-side vs a genexpr frame per token
                freq.update(map(str.lower,
                                TOKEN_RE.findall(sp["text"])))
        self.freq = freq

    def _frequent_candidates(self, first: str, length: int):
        """Book-frequent words (freq >= K, alphabetic) in the R4 bucket."""
        if self._freq_buckets is None:
            fb: dict[tuple[str, int],
                     list[tuple[str, int, int]]] = {}
            for w, c in self.freq.items():
                if c >= self.freq_k and w not in self.lex.base \
                        and ALPHA_RE.match(w):
                    m1, m2 = char_masks(w)
                    fb.setdefault((w[0], len(w)), []).append((w, m1, m2))
            for lst in fb.values():
                lst.sort()
            self._freq_buckets = fb
        for ln in range(max(1, length - 2), length + 3):
            lst = self._freq_buckets.get((first, ln))
            if lst:
                yield from lst

    def _neighbourhood_index(self):
        """Per-doc state of the R4 neighbourhood arm, built on first use:
        the book-frequent words (freq >= K, alphabetic, not in base), the
        edit alphabet (the index's plus every character of those words),
        and the words of freq >= 3 that are R4 candidates (in base, or
        book-frequent), bucketed by (first, len)."""
        if self._neighbourhood is None:
            base = self.lex.base
            k = self.freq_k
            frequent: set[str] = set()
            ge3: dict[tuple[str, int], list[str]] = {}
            for w, c in self.freq.items():
                if c < 3 and c < k:
                    continue
                if w not in base:
                    if c < k or not ALPHA_RE.match(w):
                        continue
                    frequent.add(w)
                if c >= 3:
                    ge3.setdefault((w[0], len(w)), []).append(w)
            alphabet = "".join(sorted(set(self.lex.alphabet).union(*frequent)))
            self._neighbourhood = (frequent, alphabet, ge3)
        return self._neighbourhood

    # -- R2 ------------------------------------------------------------------

    def repair_hyphenation(self, lines: list[str]) -> list[str]:
        # fast path: no line ends with '-'
        if not any(ln.rstrip().endswith("-") for ln in lines):
            return lines
        lines = list(lines)
        i = 0
        while i < len(lines) - 1:
            tail = HYPHEN_TAIL_RE.search(lines[i].rstrip())
            if tail:
                nxt = lines[i + 1].lstrip()
                head = WORD_HEAD_RE.match(nxt)
                if head:
                    joined = tail.group(1) + head.group(0)
                    if self.known(joined):
                        stripped = lines[i].rstrip()
                        prefix = stripped[:len(stripped)
                                          - len(tail.group(1)) - 1]
                        rem = nxt[len(head.group(0)):].lstrip()
                        lines[i] = prefix + joined + ((" " + rem) if rem
                                                      else "")
                        del lines[i + 1]
                        self.corrections += 1
                        continue
            i += 1
        return lines

    # -- R3b -----------------------------------------------------------------

    def _long_s_fix(self, tok: str) -> str | None:
        positions = [i for i, c in enumerate(tok) if c == "f" or c == "s"]
        if not positions:
            return None
        best = None  # (n_swaps, -freq, variant_lower) -> variant
        for ai, i in enumerate(positions):
            v1 = tok[:i] + FS_SWAP[tok[i]] + tok[i + 1:]
            if self.known(v1):
                k = (1, -self.freq.get(v1.lower(), 0), v1.lower())
                if best is None or k < best[0]:
                    best = (k, v1)
            for j in positions[ai + 1:]:
                v2 = v1[:j] + FS_SWAP[v1[j]] + v1[j + 1:]
                if self.known(v2):
                    k = (2, -self.freq.get(v2.lower(), 0), v2.lower())
                    if best is None or k < best[0]:
                        best = (k, v2)
        return best[1] if best else None

    # -- R4 ------------------------------------------------------------------

    def _scorer_fix(self, tok: str) -> str | None:
        """R4: the best base or book-frequent word at distance <= 2 with
        the same first letter, ranked by ``(d, -freq, |dlen|, cand)`` and
        accepted iff ``d == 1 or (d == 2 and freq >= 3)``; recased.

        Two arms give the same answer; this picks the cheaper one per
        query by comparing sizes.  The bucket scan visits
        ``lex.spans[(first, L)]`` words; the neighbourhood arm probes
        about ``2 * L * |alphabet|`` edit strings.  The lexicon-only
        bound is checked first, so a doc's alphabet is only extended with
        its frequent words' characters when that bound already picks the
        neighbourhood arm."""
        t = tok.lower()
        L = len(t)
        span = self.lex.spans.get((t[0], L), 0)
        if (span > 2 * L * len(self.lex.alphabet)
                and span > 2 * L * len(self._neighbourhood_index()[1])):
            return self._neighbourhood_fix(tok)
        return self._scan_fix(tok)

    def _neighbourhood_fix(self, tok: str) -> str | None:
        """R4 by edit neighbourhood.  Step 1 probes every string one
        plain-Levenshtein edit from the token (no transpositions: d is
        Levenshtein) at positions >= 1, which are exactly the distance-1
        strings that keep its first letter, against base and the
        book-frequent words.  Any hit wins, since every d=1 candidate
        outranks every d=2 one.  Step 2 runs only when none hits: a d=2
        winner is accepted only at freq >= 3, so scanning the book's
        freq >= 3 candidates finds it.  The alphabet covers every
        character of base and of the frequent words, so no candidate is
        missed."""
        t = tok.lower()
        frequent, alphabet, ge3 = self._neighbourhood_index()
        base = self.lex.base
        if t in base or t in frequent:
            return None  # d = 0 ranks first and is never accepted
        L = len(t)
        freq = self.freq
        splits = [(t[:i], t[i:]) for i in range(1, L + 1)]
        edits = {a + b[1:] for a, b in splits[:-1]}
        edits.update([a + c + b[1:] for a, b in splits[:-1]
                      for c in alphabet])
        edits.update([a + c + b for a, b in splits for c in alphabet])
        hits = (edits & base) | (edits & frequent)
        if hits:
            return recase(min(hits, key=lambda w: (
                -freq.get(w, 0), abs(len(w) - L), w)), tok)
        first = t[0]
        best_key = None
        for ln in range(max(1, L - 2), L + 3):
            for cand in ge3.get((first, ln), ()):
                if dist_le2(t, cand) <= 2:  # no d <= 1 left: d == 2
                    key = (-freq[cand], abs(ln - L), cand)
                    if best_key is None or key < best_key:
                        best_key = key
        return None if best_key is None else recase(best_key[2], tok)

    def _scan_fix(self, tok: str) -> str | None:
        """R4 by bucket scan: every base and book-frequent word in the
        token's (first, len +- 2) buckets, ranked by the full key."""
        t = tok.lower()
        first = t[0]
        L = len(t)
        best_key = None
        best_cand = None
        freq = self.freq
        # count-clamped char lower bound (char_masks): each missing
        # clamped occurrence costs >= 1 edit, so a one-sided deficit > 2
        # can never reach distance <= 2 — skips the DP for the vast
        # majority of the bucket
        t1, t2 = char_masks(t)
        for cand, c1, c2 in chain(self.lex.bucket_candidates(first, L),
                                  self._frequent_candidates(first, L)):
            if ((t1 & ~c1).bit_count() + (t2 & ~c2).bit_count() > 2
                    or (c1 & ~t1).bit_count()
                    + (c2 & ~t2).bit_count() > 2):
                continue
            d = dist_le2(t, cand)
            if d > 2:
                continue
            key = (d, -freq.get(cand, 0), abs(len(cand) - L), cand)
            if best_key is None or key < best_key:
                best_key, best_cand = key, cand
        if best_cand is None:
            return None
        d = best_key[0]
        f = -best_key[1]
        if d == 1 or (d == 2 and f >= 3):
            return recase(best_cand, tok)
        return None

    # -- per-token dispatch (memoized in _token_pass) -------------------------

    def _lookup_uncached(self, tok: str) -> tuple[str, int, int]:
        """Memo-miss path: consult the index's cross-doc base-known memo
        before running the full per-doc correction chain (base-known
        tokens correct to themselves independent of book frequencies)."""
        lex = self.lex
        hit = lex.known_hits.get(tok)
        if hit is not None:
            return hit
        if tok.lower() in lex.base:
            hit = (tok, 0, 0)
            if len(lex.known_hits) < lex.KNOWN_HITS_CAP:
                lex.known_hits[tok] = hit
            return hit
        return self._correct_token_uncached(tok)

    def _correct_token_uncached(self, tok: str) -> tuple[str, int, int]:
        if self.known(tok):
            return tok, 0, 0
        if COND_LIG_RE.search(tok):
            mapped = tok.translate(COND_LIG_TRANSLATE)
            if self.known(mapped):
                return mapped, 1, 0
        if ALPHA_RE.match(tok) and ("f" in tok or "s" in tok):
            fixed = self._long_s_fix(tok)
            if fixed is not None:
                return fixed, 1, 0
        if ALPHA_RE.match(tok) and len(tok) >= 3:
            if tok[0].isupper():
                return tok, 0, 1  # capitalized unknown: flag, never edit
            fixed = self._scorer_fix(tok)
            if fixed is not None:
                return fixed, 1, 0
            return tok, 0, 1
        if HAS_LETTER_RE.search(tok):
            return tok, 0, 1
        return tok, 0, 0

    # -- per-line R3a + token pass --------------------------------------------

    def _token_pass(self, parts: list[str]) -> bool:
        """Correct the token slots (odd indices of a capturing split) in
        place; returns whether anything changed.  One capturing split
        replaces finditer + group/start/end slicing (~16% off the whole
        rules chain at ~400k tokens/batch)."""
        memo = self._memo
        kh = self.lex.known_hits
        changed = False
        corrections = flagged = 0
        for i in range(1, len(parts), 2):
            tok = parts[i]
            hit = memo.get(tok)
            if hit is None:
                hit = kh.get(tok) or self._lookup_uncached(tok)
                memo[tok] = hit
            fixed, dc, df = hit
            if dc or df:
                corrections += dc
                flagged += df
            if fixed != tok:
                parts[i] = fixed
                changed = True
        self.corrections += corrections
        self.flagged += flagged
        return changed

    def correct_line(self, line: str) -> str:
        if LIG_RE.search(line):
            mapped = line.translate(LIG_TRANSLATE)
            if mapped != line:
                self.corrections += 1
            line = mapped
        parts = TOKEN_SPLIT_RE.split(line)
        return "".join(parts) if self._token_pass(parts) else line

    def correct_lines(self, lines: list[str]) -> list[str]:
        """Whole-span token pass: one capturing split over the joined
        text instead of one per line (~10 lines/span -> ~10x fewer
        split + call round-trips).  Corrections never add or remove
        newlines (the token class excludes them and passthrough parts
        are kept verbatim), so re-splitting on \\n is exact.  Ligature
        lines fall back to the per-line path to preserve the per-LINE
        ligature correction count."""
        text = "\n".join(lines)
        if LIG_RE.search(text):
            return [self.correct_line(ln) for ln in lines]
        parts = TOKEN_SPLIT_RE.split(text)
        if self._token_pass(parts):
            return "".join(parts).split("\n")
        return text.split("\n")

    def correct_span(self, text: str) -> str:
        """R2 hyphen repair, then the token pass, over one text span."""
        return "\n".join(self.correct_lines(
            self.repair_hyphenation(text.split("\n"))))

    def correct(self, spans) -> list[dict]:
        """R2-R4 over every non-media span with non-blank text, in any
        order -> span dicts kind/text/media_ref/offset.  Span-local
        given the book's ``freq`` (rule R0), so the skew path runs it on
        a giant book's chunks in many tasks."""
        out = []
        for sp in spans:
            text = sp["text"]
            if sp["kind"] != "media" and text and text.strip():
                text = self.correct_span(text)
            out.append({"kind": sp["kind"], "text": text,
                        "media_ref": sp["media_ref"],
                        "offset": sp["offset"]})
        return out

    # -- R5/R6 segmentation -----------------------------------------------------

    @staticmethod
    def is_heading(stripped: str, prev_blank: bool, next_blank: bool) -> bool:
        if HEADING_RE.match(stripped):
            return True
        return (prev_blank and next_blank
                and LOWER_RE.search(stripped) is None
                and UPPER_RE.search(stripped) is not None
                and len(TOKEN_RE.findall(stripped)) <= 6)

    @staticmethod
    def segment(spans) -> list[tuple[str, str, str, int]]:
        """R5/R6 over one doc's corrected spans (kind/text/media_ref
        mappings) in offset order -> (kind, text, media_ref, order)."""
        out: list[tuple[str, str, str, int]] = []
        para: list[str] = []
        deferred: list[str] = []

        def emit(kind: str, text: str, media_ref: str) -> None:
            out.append((kind, text, media_ref, len(out)))

        def close_para() -> None:
            if para:
                emit("paragraph", " ".join(para), "")
                para.clear()
            if deferred:
                for ref in deferred:
                    emit("media", "", ref)
                deferred.clear()

        for sp in spans:
            kind, text, media_ref = sp["kind"], sp["text"], sp["media_ref"]
            if kind == "media":
                if para:
                    deferred.append(media_ref or "")
                else:
                    emit("media", "", media_ref or "")
                continue
            text = text or ""
            if not text.strip():
                continue  # blank page: emits nothing, paragraph stays open
            lines = text.split("\n")
            heading_buf: list[str] = []
            n = len(lines)
            stripped = [ln.strip() for ln in lines]
            for idx in range(n):
                s = stripped[idx]
                if not s:
                    if heading_buf:
                        emit("chapter", " ".join(heading_buf), "")
                        heading_buf.clear()
                    close_para()
                    continue
                prev_blank = idx == 0 or not stripped[idx - 1]
                next_blank = idx == n - 1 or not stripped[idx + 1]
                if DocProofreader.is_heading(s, prev_blank, next_blank):
                    close_para()
                    heading_buf.append(s)
                else:
                    if heading_buf:
                        emit("chapter", " ".join(heading_buf), "")
                        heading_buf.clear()
                    para.append(s)
            if heading_buf:
                emit("chapter", " ".join(heading_buf), "")
                heading_buf.clear()
            # paragraph stays open across the span boundary (R6)

        close_para()
        return out

    def run(self, spans) -> tuple[list[tuple[str, str, str, int]], int]:
        """Full pipeline for one doc -> (out span tuples, input span count).

        ``spans``: sequence of dicts kind/text/media_ref/offset, any order.
        Out tuples: (kind, text, media_ref, order)."""
        spans = sorted(spans, key=lambda s: s["offset"])
        if not self.freq:
            self.count_freq(spans)
        return self.segment(self.correct(spans)), len(spans)
