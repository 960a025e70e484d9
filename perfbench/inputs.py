"""Seeded input builders for the benchmark.

Everything is derived from files already in ``fixtures/`` (the corpus
generator and the base lexicon); nothing is downloaded.  Inputs are cached
under ``<checkout>/.perfbench/inputs/`` keyed by (kind, seed, size), so a
second run with the same seed skips the build; the build time is reported
on its own, never inside ``setup_s``.

Tables built here:

* ``books``   -- the book corpus ``(doc_id, spans, n_spans)`` written as
  16 part files, the way ``sources.synthetic.ensure_corpus_parquet``
  writes it, optionally with giant books (consecutive generated books
  concatenated with re-offset spans) above ``chunk_threshold_spans``; or
  as one parquet file (the ``fixtures/gen.py`` layout), so the placement
  guard has a narrow scan to spread.  The regular books are picked so
  their word count is the same for every seed (see ``_balanced``).
* ``flat``    -- ``(doc_id, lang, text)`` for the curation job, derived
  from the same books (one doc per page), with stated shares of exact and
  near duplicates.
* ``lexicon`` -- a deterministic ~10^5-word lexicon: the base lexicon plus
  md5-derived pseudo-words that follow its length distribution.

Oracle outputs for a seed-chosen sample of documents are computed here too
(with ``oracle/refsem.py``), because they depend only on the input and the
lexicon; the checks compare the engine's output with them.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
INPUTS = os.path.join(WORK, "inputs")
BASE_LEXICON = os.path.join(ROOT, "fixtures", "lexicon_base.txt")

VERSION = "v4"            # bump when a builder changes its output
CHUNK_THRESHOLD = 4096    # RunConfig.chunk_threshold_spans
GIANT_SPANS = 4200        # each giant book stops growing past this
WORDS_PER_BOOK = 540      # the generator's mean words per regular book
BIG_LEXICON_WORDS = 100_000
FILES = 16                # part files of the books table
EXACT_DUP_SHARE = 0.05    # flat table: verbatim copies of an earlier doc
NEAR_DUP_SHARE = 0.10     # flat table: copies with a few words replaced
LANGS = (("en", 5), ("fr", 3), ("de", 1), ("es", 1))


def _pool():
    """A few worker processes for generation and the oracle."""
    return multiprocessing.get_context("spawn").Pool(
        min(os.cpu_count() or 1, 4))


def _write_atomic_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


# -- books -----------------------------------------------------------------


def _book_range(args) -> list[tuple[int, list[dict]]]:
    """Spans of books ``lo..hi-1`` of ``seed``: the generator's OCR render
    of its first corruption attempt (``CorpusGenerator.gen_doc`` with
    ``validate=False``, minus the oracle run on the clean render).  The
    generator's ``i % 100 == 99`` wide books are left out: the giant books
    below take their role, and their span count would swing the corpus
    size between seeds."""
    seed, lo, hi = args
    sys.path.insert(0, ROOT)
    from fixtures.gen import CorpusGenerator
    gen = CorpusGenerator(seed=seed)
    out = []
    for i in range(lo, hi):
        rng = random.Random(seed * 1_000_003 + i)
        plans = gen._gen_plans(rng, f"book-{i:07d}", skewed=False)
        crng = random.Random(seed * 1_000_003 + i + 13)
        out.append((i, gen._render_plans(gen._corrupt_plans(crng, plans),
                                         "ocr", crng)))
    return out


def _gen_books(pool, seed: int, ids: list[int]) -> dict[int, list[dict]]:
    """Books ``ids`` (ascending, nearly contiguous) across the pool."""
    step = max(1, len(ids) // 32)
    ranges = [(seed, ids[k], ids[min(k + step, len(ids)) - 1] + 1)
              for k in range(0, len(ids), step)]
    books: dict[int, list[dict]] = {}
    for part in pool.map(_book_range, ranges):
        books.update(part)
    return {i: books[i] for i in ids}


def _giants(pool, seed: int, n: int) -> list[list[dict]]:
    """``n`` giant books, each the concatenation of consecutive books from
    an index range disjoint from the regular books, grown until it has
    ``GIANT_SPANS`` spans."""
    out: list[list[dict]] = []
    nxt, cur = 10_000_000, []
    while len(out) < n:
        batch = _gen_books(pool, seed, list(range(nxt, nxt + 500)))
        nxt += 500
        for b in batch.values():
            cur.append(b)
            if sum(map(len, cur)) >= GIANT_SPANS:
                out.append(_giant(cur))
                cur = []
                if len(out) == n:
                    break
    return out


def _words(spans: list[dict]) -> int:
    return sum(len(s["text"].split()) for s in spans if s["kind"] == "text")


def _balanced(books: dict[int, list[dict]], n: int) -> list[int]:
    """``n`` of ``books`` whose word count totals ``n * WORDS_PER_BOOK``.

    The proofreading work of a corpus follows its word count, which
    swings by about 5% between seeds for a fixed number of books; that
    swing would show as run-to-run spread of docs/s.  Start from the first
    ``n`` books and swap in spare ones until the total is on target."""
    ids = sorted(books)
    chosen, spare = ids[:n], ids[n:]
    words = {i: _words(books[i]) for i in ids}
    gap = n * WORDS_PER_BOOK - sum(words[i] for i in chosen)
    for _ in range(len(spare)):
        if abs(gap) <= WORDS_PER_BOOK // 10:
            break
        # the swap (out c, in e) that brings the gap closest to zero
        _, c, e = min((abs(gap - words[e] + words[c]), c, e)
                      for c in chosen for e in spare)
        if abs(gap - words[e] + words[c]) >= abs(gap):
            break
        chosen[chosen.index(c)] = e
        spare[spare.index(e)] = c
        gap -= words[e] - words[c]
    return sorted(chosen)


def _regular_ids(n_docs: int) -> list[int]:
    ids, i = [], 0
    while len(ids) < n_docs:
        if i % 100 != 99:
            ids.append(i)
        i += 1
    return ids


def _giant(books: list[list[dict]]) -> list[dict]:
    spans: list[dict] = []
    for b in books:
        for s in b:
            spans.append(dict(s, offset=len(spans)))
    return spans


def _oracle(args):
    """refsem output spans for one doc, as comparable tuples."""
    doc_id, spans, lexicon_path = args
    sys.path.insert(0, ROOT)
    from oracle.refsem import load_base_lexicon, proofread_document
    out, _ = proofread_document(spans, load_base_lexicon(lexicon_path))
    return doc_id, [[s["kind"], s["text"], s["media_ref"], s["order"]]
                    for s in out]


def _span_type():
    import pyarrow as pa
    return pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                               ("media_ref", pa.string()),
                               ("offset", pa.int32())]))


def _docs_table(rows: list[tuple[str, list[dict]]]):
    import pyarrow as pa
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.string()),
        "spans": pa.array([r[1] for r in rows], _span_type()),
        "n_spans": pa.array([len(r[1]) for r in rows], pa.int32())})


def _cached(kind: str, seed: int, size: str, build) -> dict:
    """Build ``kind`` once per (seed, size); returns its manifest."""
    d = os.path.join(INPUTS, f"{kind}_{VERSION}_{size}_s{seed}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return dict(json.load(fh), cached=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.perf_counter()
    man = build(d)
    man.update(path=d, build_s=time.perf_counter() - t0)
    _write_atomic_json(manifest, man)
    return dict(man, cached=False)


def books(seed: int, n_docs: int, n_giants: int, sample: int,
          lexicon_path: str = BASE_LEXICON, one_file: bool = False) -> dict:
    """Book corpus with ``n_giants`` giant books; oracle outputs for a
    seed-chosen sample of ``sample`` regular books plus one giant book."""
    size = f"{n_docs}x{n_giants}{'f1' if one_file else ''}_" \
           f"{os.path.basename(lexicon_path).split('.')[0]}"

    def build(d: str) -> dict:
        import pyarrow.parquet as pq
        with _pool() as pool:
            gen = _gen_books(pool, seed, _regular_ids(n_docs + n_docs // 5))
            rows = [(f"book-{i:07d}", gen[i]) for i in _balanced(gen, n_docs)]
            rows += [(f"giant-{g:02d}", s)
                     for g, s in enumerate(_giants(pool, seed, n_giants))]
            rng = random.Random(seed)
            picked = rng.sample(range(n_docs), sample)
            if n_giants:
                picked.append(n_docs + rng.randrange(n_giants))
            expected = dict(pool.map(
                _oracle, [(rows[k][0], rows[k][1], lexicon_path)
                          for k in picked]))
        data = os.path.join(d, "data")
        os.makedirs(data)
        if one_file:
            pq.write_table(_docs_table(rows),
                           os.path.join(data, "part-0.parquet"),
                           row_group_size=2000)
        else:
            for f in range(FILES):
                pq.write_table(_docs_table(rows[f::FILES]),
                               os.path.join(data, f"part-{f:05d}.parquet"))
        _write_atomic_json(os.path.join(d, "expected.json"), expected)
        return {"docs": len(rows), "spans": sum(len(r[1]) for r in rows),
                "giants": [r[0] for r in rows if len(r[1]) > CHUNK_THRESHOLD],
                "giant_spans": sum(len(r[1]) for r in rows
                                   if len(r[1]) > CHUNK_THRESHOLD),
                "sample": sorted(expected), "lexicon": lexicon_path}
    man = _cached("books", seed, size, build)
    man["input"] = os.path.join(man["path"], "data")
    return man


def big_lexicon(n_words: int = BIG_LEXICON_WORDS) -> str:
    """Base lexicon plus md5-derived pseudo-words whose lengths follow the
    base lexicon's length distribution; the same file on every host."""
    def build(d: str) -> dict:
        with open(BASE_LEXICON, encoding="utf-8") as fh:
            base = sorted({w.strip().lower() for w in fh if w.strip()})
        lengths = sorted(len(w) for w in base)
        words = set(base)
        k = 0
        while len(words) < n_words:
            h = hashlib.md5(f"perfbench-lexicon-{k}".encode()).digest()
            k += 1
            n = lengths[int.from_bytes(h[:4], "big") % len(lengths)]
            stream = h + hashlib.md5(h).digest()
            words.add("".join("abcdefghijklmnopqrstuvwxyz"[b % 26]
                              for b in stream[4:4 + n]))
        path = os.path.join(d, "lexicon.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(sorted(words)) + "\n")
        return {"words": len(words), "file": path}
    return _cached("lexicon", 0, str(n_words), build)["file"]


# -- flat curation table -----------------------------------------------------


def flat(seed: int, n_docs: int) -> dict:
    """``(doc_id, lang, text)`` built from the seed's books: one doc per
    text span (a page), its blank lines dropped.  ``EXACT_DUP_SHARE`` of
    the docs repeat an earlier page verbatim and ``NEAR_DUP_SHARE`` repeat
    one with about 3% of its words replaced by other lexicon words."""
    def build(d: str) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq
        n_exact = int(n_docs * EXACT_DUP_SHARE)
        n_near = int(n_docs * NEAR_DUP_SHARE)
        n_orig = n_docs - n_exact - n_near
        with _pool() as pool:
            # ~7 text spans per book; generate a margin and trim
            gen = _gen_books(pool, seed, _regular_ids(n_orig // 6 + 8))
        texts = ["\n".join(ln for ln in s["text"].split("\n") if ln.strip())
                 for spans in gen.values() for s in spans
                 if s["kind"] == "text" and s["text"].strip()][:n_orig]
        if len(texts) < n_orig:
            raise RuntimeError(f"flat: {len(texts)} pages < {n_orig}")
        with open(BASE_LEXICON, encoding="utf-8") as fh:
            vocab = sorted({w.strip().lower() for w in fh if w.strip()})
        rng = random.Random(seed * 7 + 1)
        for _ in range(n_exact):
            texts.append(texts[rng.randrange(n_orig)])
        for _ in range(n_near):
            words = texts[rng.randrange(n_orig)].split(" ")
            for j in rng.sample(range(len(words)), max(1, len(words) // 33)):
                if "\n" not in words[j]:
                    words[j] = rng.choice(vocab)
            texts.append(" ".join(words))
        rng.shuffle(texts)
        names, weights = zip(*LANGS)
        os.makedirs(os.path.join(d, "data"))
        pq.write_table(pa.table({
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "lang": pa.array(rng.choices(names, weights, k=n_docs),
                             pa.string()),
            "text": pa.array(texts, pa.string())}),
            os.path.join(d, "data", "part-0.parquet"))
        return {"docs": n_docs, "exact_dups": n_exact, "near_dups": n_near}
    man = _cached("flat", seed, str(n_docs), build)
    man["input"] = os.path.join(man["path"], "data")
    return man
