import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".corpus_cache")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder
         .master("local[4]")
         .appName("ocr-proofreader-tests")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "8g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _gen_source_hash() -> str:
    """Hash of the corpus generator + frozen-rule oracle sources: any edit
    to either invalidates cached corpora (a stale cache would silently run
    the parity suite against outputs of old semantics)."""
    import hashlib
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.md5()
    for rel in ("fixtures/gen.py", "oracle/refsem.py"):
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:10]


def _ensure_corpus(n_docs: int, name: str) -> str:
    """Generate (once, cached on disk keyed by generator-source hash) a
    validated fixture corpus."""
    out_dir = os.path.join(CACHE_DIR, f"{name}-{_gen_source_hash()}")
    marker = os.path.join(out_dir, "_DONE")
    if not os.path.exists(marker):
        from fixtures.gen import write_parquet
        write_parquet(out_dir, n_docs=n_docs, seed=42, validate=True)
        with open(marker, "w") as fh:
            fh.write("ok")
    return out_dir


@pytest.fixture(scope="session")
def corpus_small() -> str:
    """E2E parity corpus (FIXTURES.md section 5: pytest e2e row)."""
    return _ensure_corpus(300, "small300")


@pytest.fixture(scope="session")
def base_lexicon() -> frozenset:
    from ocr_proofreader_spark.lexicon import load_base_lexicon
    from ocr_proofreader_spark.config import RunConfig
    return load_base_lexicon(RunConfig().lexicon_path)


@pytest.fixture(scope="session")
def md5_lexicon(base_lexicon) -> frozenset:
    """The base lexicon plus md5-derived lowercase pseudo-words (lengths
    3-10) up to 30 000 words: large enough that R4 picks the
    neighbourhood arm for most tokens, unlike every fixture lexicon."""
    import hashlib
    words = set(base_lexicon)
    k = 0
    while len(words) < 30_000:
        h = hashlib.md5(f"r4-lexicon-{k}".encode()).digest()
        k += 1
        n = 3 + h[0] % 8
        words.add("".join("abcdefghijklmnopqrstuvwxyz"[b % 26]
                          for b in h[1:1 + n]))
    return frozenset(words)
