"""Lexicon loading, broadcasting, and worker-side index caching.

The dictionaries are broadcast ONCE as a ``lang -> frozenset`` map with a
``'default'`` entry (a single-language run broadcasts only ``'default'``);
each Python worker builds its (first-letter, length)-bucketed ``LexIndex``
lazily and caches it per (broadcast id, lang), so the index build cost is
paid once per worker, not per batch (SURVEY.md S11; BASELINE.json:6
'shipped as broadcast variables so no per-row Python executes')."""

from __future__ import annotations

from ocr_proofreader_spark.functions.rules import LexIndex

_INDEX_CACHE: dict[tuple, LexIndex] = {}
_MAX_CACHED_INDEXES = 8  # a handful of live languages per worker


def load_base_lexicon(path: str) -> frozenset:
    """Read the base dictionary; transparently handles paths that point
    inside a ``--py-files`` zip (spark-submit ships the engine as a zip,
    so ``__file__``-derived paths land inside the archive)."""
    import os
    import re
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return frozenset(w.strip().lower() for w in fh if w.strip())
    m = re.match(r"(.*\.zip)[/\\](.*)", path)
    if m:
        import zipfile
        with zipfile.ZipFile(m.group(1)) as zf:
            text = zf.read(m.group(2).replace("\\", "/")).decode("utf-8")
        return frozenset(w.strip().lower() for w in text.splitlines()
                         if w.strip())
    raise FileNotFoundError(path)


def load_lexicons(paths: dict[str, str]) -> dict[str, frozenset]:
    """lang -> dictionary map; include a ``'default'`` entry for docs
    whose lang has no dedicated dictionary."""
    return {lang: load_base_lexicon(p) for lang, p in paths.items()}


def broadcast_lexicon(spark, base: frozenset):
    """Broadcast one dictionary for every doc, whatever its lang."""
    return broadcast_lexicons(spark, {"default": base})


def broadcast_lexicons(spark, by_lang: dict[str, frozenset]):
    """Broadcast a lang->lexicon map; proofread selects per doc via the
    input's ``lang`` column."""
    return spark.sparkContext.broadcast(dict(by_lang))


def get_index(bc, lang: str | None = None) -> LexIndex:
    """Worker-side: LexIndex for a broadcast lexicon, cached per
    (broadcast id, lang).  The broadcast value is a lang->frozenset map,
    resolved via ``lang`` with ``'default'`` as the fallback.

    The cache key uses the broadcast's unique spill path (stable for its
    lifetime, never reused), NOT ``id(bc.value)``: a destroyed
    broadcast's value can be freed and a later dict allocated at the same
    address, which would silently serve the previous corpus's
    dictionary.  Fallback is ``id(bc)`` — the handle is pinned by the
    calling closure, unlike the value."""
    bc_id = getattr(bc, "_path", None) or id(bc)
    val = bc.value
    use = lang if lang in val else "default"
    base = val.get(use)
    if base is None:
        raise KeyError(f"no lexicon for lang {lang!r} and no 'default' entry")
    key = (bc_id, use)
    idx = _INDEX_CACHE.get(key)
    if idx is None:
        if len(_INDEX_CACHE) >= _MAX_CACHED_INDEXES:
            _INDEX_CACHE.clear()
        idx = LexIndex(base)
        _INDEX_CACHE[key] = idx
    return idx
