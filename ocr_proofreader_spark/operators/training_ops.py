"""Training-data pipeline operators over the flat documents / embeddings
tables: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard),
similarity search (brute-force cosine, LSH-bucketed ANN), and text
analysis (quality/repetition metrics, BPE token counts, trigram
language ID, document fingerprints).

Design rules:
* everything stays JVM-side (built-in functions / higher-order lambdas)
  except the LSH-projection ANN, which uses one Arrow-vectorized pass;
* every SQL-expressible op has a DuckDB twin in ``__spark_entry__``
  (hashes are md5-based so both engines agree bit-for-bit);
* aggregations are partial+final hash aggregates; the only wide joins are
  LSH-bucket self-joins whose build sides are tiny by construction.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# non-space runs == split-on-space minus empties; the positive-class
# regexp scan measured ~8x faster than split+filter at bench scale
TOKENS = 'regexp_extract_all(text, "[^ ]+", 0)'

# ---------------------------------------------------------------------------
# text analysis


EN_STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """md5 of whitespace-normalized lowercase text (rolling-hash stand-in
    that is portable across engines)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def doc_fingerprint_rolling(docs: DataFrame) -> DataFrame:
    """True polynomial rolling hash over the token stream, folded
    JVM-side with ``aggregate``: acc = (acc*1000003 + h(tok)) mod
    (2^31-1), h = first 32 md5 bits.  Order-sensitive (unlike the md5
    stand-in above, it distinguishes permuted documents), overflow-free
    in int64 (acc*B < 2^51), and engine-portable — the DuckDB twin folds
    the identical recurrence with list_reduce."""
    fold = (f"aggregate({TOKENS}, 0L, (acc, t) -> "
            f"(acc * 1000003L + cast(conv(substr(md5(t), 1, 8), 16, 10)"
            f" as bigint)) % 2147483647L)")
    return docs.select("doc_id", F.expr(fold).alias("rolling_hash"))


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-3 characteristic terms per doc by tf-idf.

    Ranking is on INTEGERS (tf desc, then word) so ties are
    engine-portable; the float idf score is computed after ranking and
    reported as floor(x * 1e4) int64 (a value within an ulp of a 4dp
    half-boundary flips under round() — Spark rounds HALF_UP, DuckDB
    half-away-from-zero — while floor absorbs ulp noise everywhere
    except exact 1e-4 multiples, which ln() never lands on), never
    compared — ln() differs by ulps across libms and must not decide
    order.  Plan: one (doc, word) hash agg; df as a partial+final
    aggregate JOINED back on word — NOT a Window.partitionBy(word)
    count, which would drag every (doc, word) row of a stopword into
    one partition (df('the') = n_docs rows in a single straggler task
    at corpus scale; the same hot-key-window disease killed in
    line_dedup r3 and minhash_candidates r5).  The word-keyed join can
    still skew on stopwords, but joins are AQE-skew-splittable where
    windows are not, and the df side ships only vocab-sized partials.
    Corpus size broadcast-joined; row_number window for the top-3 (its
    doc_id partitions are bounded by per-doc vocabulary)."""
    words = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    w_rk = Window.partitionBy("doc_id").orderBy(F.desc("tf"),
                                                F.asc("word"))
    return (tf.join(df, "word")
            .withColumn("rk", F.row_number().over(w_rk))
            .filter(F.col("rk") <= 3)
            .crossJoin(F.broadcast(n))
            .select("doc_id", "word", "tf", "df", "rk",
                    F.floor(F.col("tf")
                            * F.log(F.col("n_docs") / F.col("df"))
                            * 10000).cast("long").alias("tfidf_e4")))


EN_PUNCT_CLASS = "[^.,;:!?]"  # negated: keep only sentence punctuation


def quality_metrics(docs: DataFrame) -> DataFrame:
    """Full quality-signal row per doc: token/char counts, sentence-
    punctuation count, stopword hits.  Counts (not ratios) on purpose:
    integer outputs are bit-portable across engines, while ratio
    rounding can land on half-way ties (k/2^a5^b) where Spark rounds
    half-up and DuckDB half-even; consumers derive ratios losslessly."""
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return docs.select(
        "doc_id",
        F.expr(f"size({TOKENS})").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.length(F.regexp_replace("text", EN_PUNCT_CLASS, ""))
        .cast("long").alias("n_punct"),
        F.expr(f"size(filter({TOKENS}, "
               f"w -> lower(w) IN ({stop_list})))")
        .cast("long").alias("n_stopwords"))


# Gopher/C4-family repetition signals.  2-grams are materialized by
# explode -> partial+final hash agg (one shuffle on (doc_id, gram)) —
# the HOF alternative (count each distinct gram by filtering the gram
# array) is O(distinct x len) per row and loses map-side combine.
BIGRAMS = (f"CASE WHEN size({TOKENS}) >= 2 THEN "
           f"transform(sequence(1, size({TOKENS}) - 1), "
           f"i -> concat(element_at({TOKENS}, i), ' ', "
           f"element_at({TOKENS}, i + 1))) "
           f"ELSE array() END")


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Repetition-based quality signals per doc (the Gopher/C4 rules):
    duplicate-line counts and most-frequent-2-gram dominance.  All
    outputs are integer counts (bit-portable; consumers derive the
    published ratio thresholds — e.g. Gopher's 'fraction of chars in
    most frequent 2-gram' — losslessly).  Lines are computed per-row
    with no shuffle; the 2-gram aggregate is one partial+final hash
    agg, then an equi-join back on doc_id."""
    lines = docs.select(
        "doc_id",
        F.expr("size(split(text, '\\n'))").cast("long").alias("n_lines"),
        F.expr("size(array_distinct(split(text, '\\n')))").cast("long")
        .alias("n_distinct_lines"))
    grams = (docs
             .select("doc_id", F.explode(F.expr(BIGRAMS)).alias("gram"))
             .groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
             .groupBy("doc_id")
             .agg(F.sum("c").alias("n_2grams"),
                  F.max("c").alias("top_2gram_count")))
    return (lines.join(grams, "doc_id", "left")
            .select("doc_id", "n_lines", "n_distinct_lines",
                    F.coalesce("n_2grams", F.lit(0)).cast("long")
                    .alias("n_2grams"),
                    F.coalesce("top_2gram_count", F.lit(0)).cast("long")
                    .alias("top_2gram_count")))


# BPE-ish pre-tokenizer (GPT-2 family), simplified to the lookahead-free
# subset both Java regex (Spark) and RE2 (DuckDB) accept: contraction
# suffixes, optionally-space-prefixed letter runs, digit runs, symbol
# runs, whitespace runs.  Whitespace is an EXPLICIT class, not \s —
# Java's \s includes \x0B (vertical tab) while RE2's does not, so \s
# would diverge on any doc containing one.
_WS = r" \t\n\x0B\f\r"
BPE_PATTERN = (r"'(?:s|t|re|ve|m|ll|d)"
               r"| ?[A-Za-zÀ-ÿ]+"
               r"| ?[0-9]+"
               rf"| ?[^A-Za-z0-9À-ÿ{_WS}']+"
               rf"|[{_WS}]+")


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """Sub-word-style token count: number of BPE pre-tokenizer segments
    (the standard proxy for LLM token cost before a real merges table
    is applied).  Pure regexp scan, no shuffle, no Python."""
    pat = BPE_PATTERN.replace("\\", "\\\\").replace("'", "\\'")
    return docs.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{pat}', 0))")
        .cast("long").alias("n_bpe_tokens"))


# Deterministic BPE merges table, rank-ordered; each operand is a base
# character or an earlier merge's product (the validity invariant of
# learned BPE tables).  A production build learns this from corpus pair
# counts; freezing a small English-biased table keeps every run
# bit-identical, which the resume protocol relies on.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("in", "g"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"),
    ("e", "n"), ("a", "t"), ("s", "t"), ("e", "s"), ("o", "r"),
    ("l", "l"),
)

# unit separator — absent from any text corpus this engine ingests (a
# production build would escape it in a pre-pass)
BPE_SEP = "\x1f"


def bpe_seg_count_expr(dialect: str) -> str:
    """SQL expression for the post-merge BPE token count of ONE
    pre-tokenizer segment, the lambda variable ``s``.

    The segment's characters are each wrapped ``sep C sep`` and
    concatenated, so applying merge (a, b) is ONE left-to-right
    non-overlapping ``replace`` of ``sep a sep sep b sep`` with
    ``sep ab sep`` — exactly exhaustive leftmost merging: a rule's
    application can never create a new occurrence of its own pair
    (ab != a and ab != b by length), and each replacement restores the
    full wrapper so back-to-back occurrences all match.  Applying the
    merges in rank order is then the standard (Sennrich) BPE
    application.  The count is the number of ``sep sep`` boundaries
    plus one, read off with a split.

    Emitted for either engine (``dialect`` 'spark' | 'duckdb') from
    the same merge table, so the two sides run the identical algorithm
    — all JVM-side string built-ins on the Spark side, no Python."""
    sep = BPE_SEP
    if dialect == "spark":
        e = (f"concat('{sep}', array_join(split(s, ''), '{sep}{sep}'),"
             f" '{sep}')")
    else:
        e = (f"('{sep}' || array_to_string(string_split(s, ''),"
             f" '{sep}{sep}') || '{sep}')")
    for a, b in BPE_MERGES:
        e = (f"replace({e}, '{sep}{a}{sep}{sep}{b}{sep}',"
             f" '{sep}{a}{b}{sep}')")
    if dialect == "spark":
        return f"size(split({e}, '{sep}{sep}'))"
    return f"len(string_split({e}, '{sep}{sep}'))"


def token_count_bpe_merged(docs: DataFrame) -> DataFrame:
    """REAL BPE token count: pre-tokenize with ``BPE_PATTERN``, then
    apply the rank-ordered ``BPE_MERGES`` greedily inside each segment
    and count the resulting sub-word tokens.  Unlike
    :func:`token_count_bpe` (segment count only — an upper bound) this
    is an actual tokenizer cost.  One JVM-side projection: per-segment
    merge-and-count via higher-order ``transform`` + ``aggregate``, no
    shuffle, no UDF — the plan is a pure map stage at any scale."""
    pat = BPE_PATTERN.replace("\\", "\\\\").replace("'", "\\'")
    seg = bpe_seg_count_expr("spark")
    return docs.select(
        "doc_id",
        F.expr(f"aggregate(transform(regexp_extract_all(text, '{pat}', 0),"
               f" s -> {seg}), 0L, (acc, v) -> acc + v)")
        .cast("long").alias("n_bpe_merged"))


# the bounded doc subset (doc_id < 100) both all-pairs Jaccard operators
# run on
JACCARD_MAX_DOC = 100


def minhash_jaccard_estimate(docs: DataFrame) -> DataFrame:
    """Sketch-vs-exact gate for MinHash similarity: estimate each
    pair's Jaccard as the fraction of agreeing MinHash signatures
    (16 independent permutation-free hashes -> per-pair std
    sqrt(J(1-J)/16)) and pin the mean absolute error against the
    exact n-gram Jaccard under 0.2.  Runs on the same bounded
    subset as ``ngram_jaccard`` (the all-pairs estimator is the
    oracle-side baseline, not the scale path — LSH banding is).  Gate
    pattern as for ANN recall: the DuckDB twin recomputes the ground
    truth (exact pair count) and pins the boolean."""
    bands = 16
    sub = docs.filter(F.col("doc_id") < JACCARD_MAX_DOC)
    sigs = minhash_signatures(sub, bands=bands)
    a = sigs.select(F.col("doc_id").alias("d1"), "band",
                    F.col("sig").alias("sig1"))
    b = sigs.select(F.col("doc_id").alias("d2"), "band",
                    F.col("sig").alias("sig2"))
    est = (a.join(b, ["band"])
           .filter(F.col("d1") < F.col("d2"))
           .groupBy("d1", "d2")
           .agg((F.sum(F.when(F.col("sig1") == F.col("sig2"), 1)
                       .otherwise(0)) / bands).alias("est")))
    exact = ngram_jaccard(docs)
    joined = exact.join(est, ["d1", "d2"], "left").select(
        "d1", "d2", "jaccard",
        F.coalesce("est", F.lit(0.0)).alias("est"))
    return (joined.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.avg(F.abs(F.col("est") - F.col("jaccard"))).alias("mae"))
        .select("n_pairs",
                (F.col("mae") <= 0.2).alias("mae_floor_met")))


# character n-gram profiles for the n-gram language-ID heuristic: high-
# frequency trigrams that discriminate en vs fr (fixed, deterministic —
# a production build learns them from labeled corpora the same way)
EN_TRIGRAMS = ("the", "and", "ing", "ion", "tio", "hat", "ith")
FR_TRIGRAMS = ("les", "ent", "que", "des", "ait", "eur", "ois")


def lang_id_ngram(docs: DataFrame) -> DataFrame:
    """Character-trigram language ID (the n-gram heuristic named in the
    task brief — a step up from stopword hits): per doc, count the
    occurrences of each language's profile trigrams via the
    length-difference trick (no explode, no UDF, pure JVM string ops)
    and pick the higher score, ties to 'en'.  Integer scores stay
    bit-portable.

    NOTE on the driver corpus: its ``lang`` labels are uncorrelated
    with the (English-wordlist) synthetic text, so no classifier can
    score meaningfully there — the verified contract is the mechanism
    (deterministic trigram counting), not label accuracy."""
    def score(grams):
        lower = F.lower("text")
        total = None
        for g in grams:
            cnt = ((F.length(lower)
                    - F.length(F.replace(lower, F.lit(g), F.lit(""))))
                   / len(g)).cast("long")
            total = cnt if total is None else total + cnt
        return total
    en = score(EN_TRIGRAMS).alias("en_score")
    fr = score(FR_TRIGRAMS).alias("fr_score")
    return (docs.select("doc_id", en, fr)
            .withColumn("lang_guess",
                        F.when(F.col("fr_score") > F.col("en_score"),
                               F.lit("fr")).otherwise(F.lit("en"))))


def line_dedup_texts(docs: DataFrame) -> DataFrame:
    """Text-preserving core of :func:`line_dedup_corpus`: per doc the
    REBUILT cleaned text plus kept/total line counts — the form the
    curation pipeline consumes (the contract query projects digests
    from this so its output stays scalar-hashable)."""
    lines = (docs
             .select("doc_id",
                     F.posexplode(F.split("text", "\n"))
                     .alias("idx", "line")))
    kept = (lines
            .groupBy("line")
            .agg(F.min(F.struct("doc_id", "idx")).alias("first"))
            .select(F.col("first.doc_id").alias("doc_id"),
                    F.col("first.idx").alias("idx"),
                    "line"))
    rebuilt = (kept
               .groupBy("doc_id")
               .agg(F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("idx", "line"))),
                       lambda t: t["line"]), "\n").alias("clean_text"),
                   F.count("*").alias("n_lines_kept")))
    totals = docs.select(
        "doc_id",
        F.expr("size(split(text, '\\n'))").cast("long").alias("n_lines"))
    return totals.join(rebuilt, "doc_id", "left")


def line_dedup_corpus(docs: DataFrame) -> DataFrame:
    """Corpus-wide duplicate-LINE removal (the C4 pipeline step): every
    line that already occurred anywhere in the corpus — ordered by
    (doc_id, line index), the deterministic 'first writer wins' rule —
    is dropped; docs are reassembled from their surviving lines.

    Plan: explode to (doc_id, idx, line) ->
    ``groupBy(line).agg(min(struct(doc_id, idx)))`` selects the
    first-writer occurrence of every line (struct comparison is
    lexicographic over (doc_id, idx), exactly the old window's order),
    and the aggregate's output row IS the kept occurrence — no window,
    no re-join.  Unlike ``Window.partitionBy(line)`` + ``row_number``
    (which drags every copy of a 10^9-occurrence boilerplate line into
    ONE partition with no map-side reduction — a single straggler task
    at C4 scale), the aggregate gets a partial+final split: each map
    task pre-reduces its copies of a hot line to one candidate row, so
    the shuffle carries O(#map-tasks) rows per line value, not
    O(#occurrences).  Two shuffles total (line agg; doc regroup), both
    partial-agg-friendly; no UDF.  Emits a digest of the cleaned text
    plus kept/removed counts so the result is scalar-hashable by the
    driver canonicalizer."""
    return (line_dedup_texts(docs)
            .select("doc_id",
                    F.md5(F.coalesce("clean_text", F.lit("")))
                    .alias("clean_digest"),
                    F.coalesce("n_lines_kept", F.lit(0)).cast("long")
                    .alias("n_lines_kept"),
                    (F.col("n_lines")
                     - F.coalesce("n_lines_kept", F.lit(0)))
                    .cast("long").alias("n_lines_removed")))


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram language-model quality score (the KenLM-proxy filter of
    training pipelines): per doc, sum over tokens of the PER-TOKEN
    score floor(1e4 * ln(N / freq(w))) — freq is the corpus unigram
    count, N the corpus token total; higher = more surprising/rare
    text.  Flooring at the token level (single ln per value, the
    tfidf_top_terms precedent) makes the verified field a SUM OF
    INTEGERS — order-independent, so Spark's partial-agg merge order
    and libm-vs-DuckDB ln ulps cannot flip the digest the way flooring
    an order-dependent double sum could.

    Plan: token explode -> corpus freq agg (partial+final) -> BROADCAST
    hash join of tokens to freqs on word -> per-doc integer sum.  The
    freq side is vocabulary-sized by construction (Heaps' law:
    millions of rows at 100 TB, not billions), so broadcasting it
    keeps the token stream in place — crucially there is NO shuffle on
    ``word``, whose Zipf distribution ("the" at 10^12 docs) would
    otherwise make the join's hot keys straggle.  N comes from
    sum(freq) over the same vocabulary-sized table, not a second
    corpus scan."""
    words = docs.select("doc_id", F.explode(F.expr(TOKENS)).alias("word"))
    freq = words.groupBy("word").agg(F.count("*").alias("freq"))
    n_total = freq.agg(F.sum("freq").alias("n_total"))
    return (words
            .join(F.broadcast(freq), "word")
            .crossJoin(F.broadcast(n_total))
            .groupBy("doc_id")
            .agg(F.sum(F.floor(F.log(F.col("n_total") / F.col("freq"))
                               * 10000).cast("long"))
                 .alias("logprob_e4"),
                 F.count("*").alias("n_tokens")))


def distinct_token_sketch(docs: DataFrame) -> DataFrame:
    """Sketch-vs-exact gate for vocabulary size: HyperLogLog++
    (``approx_count_distinct``, Spark's built-in sketch — constant
    memory, map-side mergeable, the 100 TB way to count vocabulary)
    against the exact distinct count, with the relative error pinned
    under 5%.  Gate pattern as for ANN recall: the DuckDB twin
    recomputes the ground truth (exact count) and pins the boolean —
    a sketch drifting past tolerance fails the hash."""
    words = docs.select(F.explode(F.expr(TOKENS)).alias("word"))
    return (words.agg(
        F.approx_count_distinct("word", rsd=0.02).alias("n_approx"),
        F.countDistinct("word").alias("n_exact"))
        .select(F.col("n_exact").cast("long").alias("n_exact"),
                (F.abs(F.col("n_approx") - F.col("n_exact"))
                 <= 0.05 * F.col("n_exact")).alias("within_tol")))


# ---------------------------------------------------------------------------
# deduplication


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: keeper = min doc_id per hash."""
    return (docs
            .groupBy(F.md5(F.col("text")).alias("content_hash"))
            .agg(F.min("doc_id").alias("keeper"),
                 F.count("*").alias("n_copies")))


def _shingles(docs: DataFrame) -> DataFrame:
    """doc_id, shingle (distinct word 3-grams).

    Input is spread to the session parallelism (guide section 2.5): a
    single-file corpus otherwise runs the shingle build, the 4x band
    explode and the per-row md5 partial aggregate above it all on one
    scan task.  Keyed by doc_id on purpose: the hash partitioning then
    satisfies the downstream groupBy(doc_id, band) clustering, so the
    signature aggregate needs NO exchange of the ~4-rows-per-doc sig
    stream at all (one exchange for the whole query-side pipeline); a
    round-robin spread measured ~15% slower because every consumer then
    pays the post-aggregate exchange the keying elides (r6 A/B, same
    session)."""
    from ocr_proofreader_spark.partitioning import spread_input
    return _ngrams(spread_input(docs.select("doc_id", "text"), "doc_id"),
                   3, "shingle")


def _ngrams(docs: DataFrame, n: int, alias: str) -> DataFrame:
    """doc_id + the distinct word ``n``-grams of each doc's text, one
    row each, named ``alias``; docs shorter than ``n`` tokens drop."""
    return (docs
            .withColumn("toks", F.expr(TOKENS))
            .filter(F.expr(f"size(toks) >= {n}"))
            .select("doc_id", F.explode(F.expr(
                f"array_distinct(transform(sequence(0, size(toks)-{n}),"
                f" i -> concat_ws(' ', slice(toks, i+1, {n}))))"))
                .alias(alias)))


def minhash_signatures(docs: DataFrame, bands: int = 4) -> DataFrame:
    """md5-based MinHash: one signature per (doc, band).

    min(md5(shingle || '|' || band)) is a classic permutation-free MinHash
    family; md5 keeps it engine-portable.

    Shape note (measured, r5): a single-pass variant — groupBy(doc_id)
    with one min-aggregate per band, then posexplode — produces
    identical values but ran 1.7x SLOWER at sf0.1 (4 wide string agg
    buffers per group lose to the narrow exploded agg, whose partial
    agg absorbs the 4x row fanout map-side).  Keep the explode."""
    sh = _shingles(docs)
    return (sh
            .select("doc_id", "shingle",
                    F.explode(F.expr(f"sequence(0, {bands - 1})"))
                    .alias("band"))
            .groupBy("doc_id", "band")
            .agg(F.min(F.md5(F.concat_ws("|", "shingle", "band")))
                 .alias("sig")))


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """LSH candidate duplicate pairs: docs sharing any band signature.

    Degenerate hot buckets (boilerplate-heavy corpora put thousands of
    docs behind one signature) are DROPPED before the self-join —
    standard LSH practice, and the thing that keeps the join O(sum of
    bucket^2) bounded at 10^12 docs.  The DuckDB oracle applies the same
    cap, so results stay bit-identical.

    Scale shape of the cap itself: bucket sizes come from a
    ``groupBy(band, sig).count()`` — a partial+final hash aggregate
    that map-side-reduces a 10^9-row degenerate bucket to one partial
    per task instead of dragging every copy into a single Window
    partition to count it.  Buckets over the cap form a tiny blacklist
    (at most ``n_rows / 64`` entries, in practice a handful),
    removed with a broadcast left-anti join — so no shuffle of the
    signature table keys on the skewed (band, sig) key ever happens
    for the hot buckets.  A plan test pins Window absent from this
    operator's plan."""
    sig = minhash_signatures(docs)
    blacklist = (sig.groupBy("band", "sig").count()
                 .filter(F.col("count") > 64)
                 .select("band", "sig"))
    capped = sig.join(F.broadcast(blacklist), ["band", "sig"], "left_anti")
    a = capped.alias("a")
    b = capped.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"))
            .distinct())


def simhash(docs: DataFrame, bits: int = 8) -> DataFrame:
    """md5-based SimHash over the token stream (engine-portable).

    Each token votes +-1 per bit of a ``bits``-bit md5-derived value (the
    first ``ceil(bits/4)`` hex digits); the doc's simhash packs the
    majority votes.

    Input spread to the session parallelism (guide section 2.5): the
    token explode + per-token md5 partial aggregate are the whole cost
    and otherwise serialize on a single-file corpus's one scan task."""
    from ocr_proofreader_spark.partitioning import spread_input
    words = spread_input(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(F.expr(TOKENS)).alias("word"))
    nhex = (bits + 3) // 4
    v = F.conv(F.substring(F.md5("word"), 1, nhex), 16, 10).cast("long")
    votes = [F.sum(F.when(F.shiftright(v, b).bitwiseAND(F.lit(1)) == 1,
                          1).otherwise(-1)).alias(f"v{b}")
             for b in range(bits)]
    agg = words.groupBy("doc_id").agg(*votes)
    sim = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = bit if sim is None else sim + bit
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


MIX_RATES = {"en": 8000, "fr": 5000}   # per-10000 keep rates
MIX_OTHER = 3000                        # every other language


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Deterministic stratified sampling — the data-MIXING step of
    corpus assembly (per-language/per-source keep rates reweight the
    final training mix).  A doc is kept iff the first 15 hex digits of
    md5(doc_id) taken mod 10000 fall under its stratum's per-10000
    rate: pure hash math, so the sample is reproducible across runs,
    partitionings and engines (no RNG, no sampleBy seed drift), and
    membership is decidable per row — one shuffle-free projection.
    Rates are integers-per-10000 to keep the comparison bit-portable."""
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 15), 16, 10)
              .cast("long") % 10000)
    rate = F.lit(MIX_OTHER)
    for lang, r in sorted(MIX_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return docs.select(
        "doc_id", "lang",
        bucket.alias("sample_bucket"),
        (bucket < rate).alias("kept"))


def quality_filter(docs: DataFrame) -> DataFrame:
    """C4/Gopher-style ACCEPT/REJECT verdict per doc, composed from the
    quality and repetition signal families — the decision layer a
    training pipeline actually runs, not just the raw metrics.

    Thresholds are INTEGER cross-multiplications only (10*distinct <
    7*lines encodes dup-ratio > 0.3, etc.) so the verdict is
    bit-portable; ``reasons`` is the sorted comma-joined flag list.
    Plan: two partial+final aggregates (quality is a pure projection;
    repetition aggregates 2-grams) joined once on doc_id — both sides
    are one-row-per-doc, so the join is 1:1 on the natural key."""
    q = quality_metrics(docs)
    r = repetition_metrics(docs)
    j = q.join(r, "doc_id")
    flags = [
        ("too_short", F.col("n_tokens") < 50),
        ("token_shape", (F.col("n_chars") < 3 * F.col("n_tokens"))
         | (F.col("n_chars") > 12 * F.col("n_tokens"))),
        ("dup_lines", 10 * F.col("n_distinct_lines") < 7 * F.col("n_lines")),
        ("rep_2gram", (F.col("n_2grams") > 0)
         & (100 * F.col("top_2gram_count") > 18 * F.col("n_2grams"))),
    ]
    reason_arr = F.array_sort(F.filter(
        F.array(*[F.when(cond, F.lit(name)).otherwise(F.lit(None))
                  for name, cond in flags]),
        lambda x: x.isNotNull()))
    return j.select(
        "doc_id",
        (F.size(reason_arr) == 0).alias("accept"),
        F.array_join(reason_arr, ",").alias("reasons"))


def simhash_near_dup(docs: DataFrame) -> DataFrame:
    """Near-duplicate PAIRS from SimHash fingerprints: docs whose
    16-bit simhashes differ in at most 2 bit positions, with the exact
    Hamming distance reported.

    Scale shape: the fingerprint is split into 4 bands of 4 bits and
    candidate pairs come from an equi-join on (band index, band
    value) — by pigeonhole, <= 2 differing bits leave at least two
    bands intact, so the banding is LOSSLESS for this
    radius (no recall loss, unlike MinHash banding) while turning the
    O(n^2) all-pairs comparison into sum-of-bucket^2 equi-join work.
    The exact ``bit_count(xor)`` post-filter then removes band-collision
    false positives.  The DuckDB twin runs the plain quadratic
    hamming join — a different plan whose agreement certifies the
    banding argument, not just the arithmetic."""
    sh = simhash(docs, 16)
    bands = sh.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright("simhash", b * 4).bitwiseAND(F.lit(15))
            for b in range(4)])).alias("band", "bval"))
    a = bands.select(F.col("doc_id").alias("d1"),
                     F.col("simhash").alias("s1"), "band", "bval")
    b = bands.select(F.col("doc_id").alias("d2"),
                     F.col("simhash").alias("s2"), "band", "bval")
    return (a.join(b, ["band", "bval"])
            .filter(F.col("d1") < F.col("d2"))
            .select("d1", "d2",
                    F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
                    .cast("long").alias("hamming"))
            .filter(F.col("hamming") <= 2)
            .distinct())


# RE2-safe and Java-regex-identical PII patterns: no lookaround, no
# backreferences, so Spark (java.util.regex) and DuckDB (RE2) match the
# same spans
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII redaction (the compliance pass every training pipeline runs
    before a corpus ships): replace email addresses and NNN-NNN-NNNN
    phone numbers with typed placeholders, reporting per-doc match
    counts and the md5 of the scrubbed text.  Pure JVM regexp engine
    work — one projection, no shuffle, no UDF; patterns chosen from
    the lookaround-free subset where java.util.regex and RE2 agree so
    the DuckDB twin is bit-exact."""
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL, "[EMAIL]"),
        PII_PHONE, "[PHONE]")
    # Spark SQL string literals eat backslash escapes — double them for
    # the F.expr-embedded copies (the F.regexp_replace args above are
    # literal Columns and need none)
    email_sql = PII_EMAIL.replace("\\", "\\\\")
    phone_sql = PII_PHONE.replace("\\", "\\\\")
    return docs.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{email_sql}', 0))")
        .cast("long").alias("n_emails"),
        F.expr(f"size(regexp_extract_all(text, '{phone_sql}', 0))")
        .cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_digest"))


def synth_pii(docs: DataFrame) -> DataFrame:
    """docs with deterministic PII injected (md5-routed: a third of
    docs get an email appended, a third a phone number, a third stay
    clean) — the driver corpus contains no real PII, so the scrub
    operator is exercised end-to-end the same way synth_html feeds the
    HTML extractor."""
    h = F.md5(F.col("doc_id").cast("string"))
    sel = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % 3
    email = F.concat(F.lit(" contact: user"),
                     F.substring(h, 3, 4), F.lit("@example.com"))
    # hex -> digits (a-f mapped to 0-5) so the number matches PII_PHONE
    digits = lambda c: F.translate(c, "abcdef", "012345")  # noqa: E731
    phone = F.concat(F.lit(" call 555-"), digits(F.substring(h, 3, 3)),
                     F.lit("-"), digits(F.substring(h, 6, 4)))
    return docs.withColumn(
        "text",
        F.when(sel == 0, F.concat("text", email))
        .when(sel == 1, F.concat("text", phone))
        .otherwise(F.col("text")))


# The decontamination benchmark: the 8-gram set of the docs with
# doc_id < 5 — deterministic and self-contained; a real deployment swaps
# in the eval-suite table.
BENCH_GRAM_N = 8
BENCH_MAX_DOC = 5


def _bench_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(distinct benchmark grams, (doc_id, gram) rows of every corpus
    doc) — corpus docs are the ones at or past ``BENCH_MAX_DOC``."""
    grams = _ngrams(docs, BENCH_GRAM_N, "gram")
    bench = (grams.filter(F.col("doc_id") < BENCH_MAX_DOC)
             .select("gram").distinct())
    return bench, grams.filter(F.col("doc_id") >= BENCH_MAX_DOC)


def benchmark_contamination(docs: DataFrame) -> DataFrame:
    """Benchmark-contamination check (decontamination is a standard
    LLM-corpus step: training text sharing long n-grams with an eval
    set must be flagged) against the ``BENCH_GRAM_N``-gram set of the
    benchmark docs.

    Scale shape: benchmark n-gram sets are small (eval suites are MBs,
    not TBs), so the probe is a BROADCAST semi-join against the
    benchmark grams — the corpus-side scan never shuffles.  Output is
    per-doc hit count + flag; benchmark docs themselves are excluded
    from the report."""
    bench, corpus = _bench_split(docs)
    hits = (corpus
            .join(F.broadcast(bench), "gram", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits")))
    return (docs.filter(F.col("doc_id") >= BENCH_MAX_DOC)
            .select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_hits", F.lit(0)).cast("long")
                    .alias("n_hits"))
            .withColumn("contaminated", F.col("n_hits") > 0))


def ngram_jaccard(docs: DataFrame) -> DataFrame:
    """Pairwise 3-gram Jaccard similarity for the docs with doc_id <
    ``JACCARD_MAX_DOC``.

    Computed relationally: |intersection| via a shingle equi-join,
    |union| = |A| + |B| - |intersection|.  Pairs without common shingles
    are omitted (their Jaccard is 0)."""
    sh = _shingles(docs.filter(F.col("doc_id") < JACCARD_MAX_DOC))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("d1"),
                       F.col("b.doc_id").alias("d2"))
              .agg(F.count("*").alias("common")))
    return (common
            .join(sizes.withColumnRenamed("doc_id", "d1")
                  .withColumnRenamed("n_sh", "n1"), "d1")
            .join(sizes.withColumnRenamed("doc_id", "d2")
                  .withColumnRenamed("n_sh", "n2"), "d2")
            .select("d1", "d2",
                    F.round(F.col("common")
                            / (F.col("n1") + F.col("n2") - F.col("common")),
                            3).alias("jaccard")))


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """Duplicate CLUSTERS from the LSH candidate pairs: connected
    components by iterative min-label propagation; ``cluster`` = the
    smallest doc_id in each component, ``is_keeper`` = the one row per
    cluster a dedup pass keeps.

    Each iteration is a neighbor-min step (join + partial/final
    min-aggregate) followed by one POINTER-JUMPING step (adopt your
    label's label — labels are node ids, so the join is label = node);
    the jump compounds across rounds, so convergence is O(log diameter)
    rounds, not O(diameter).  That matters: LSH candidate graphs over
    near-duplicate corpora form LONG CHAINS (A~B~C... without A~C), and
    the sf0.01 fixture's giant component needs 16 jumped rounds where
    plain propagation needs its full ~300-hop diameter.  The 40-round
    cap covers diameters past 2^30 — a backstop, not a tuning knob; the
    loop exits on the first converged round (the fixpoint is exactly
    the per-component min, which the recursive-CTE DuckDB twin
    recomputes independently).  Per-round ``localCheckpoint`` truncates
    the growing lineage so the plan stays O(1) per iteration at any
    scale; convergence is probed every other round only (half the
    check jobs — one extra no-op round past the fixpoint at worst,
    same result).  Deterministic (min-label is order-independent),
    like every op the resume protocol replays."""
    pairs = minhash_candidates(docs)
    edges = pairs.union(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2")))
    edges = edges.localCheckpoint(eager=True)
    labels = docs.select(F.col("doc_id").alias("node"),
                         F.col("doc_id").alias("label"))
    max_iter = 40
    for it in range(max_iter):
        nbr = (edges.join(labels, edges.d2 == labels.node)
               .groupBy("d1").agg(F.min("label").alias("nbr_label")))
        stepped = (labels.join(nbr, labels.node == nbr.d1, "left")
                   .select(labels.node,
                           F.least(labels.label,
                                   F.coalesce(nbr.nbr_label, labels.label))
                           .alias("label")))
        lab2 = stepped.select(F.col("node").alias("lnode"),
                              F.col("label").alias("llabel"))
        new_labels = (stepped.join(lab2, stepped.label == lab2.lnode)
                      .select(stepped.node,
                              F.least(stepped.label, F.col("llabel"))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        # Convergence is checked only every OTHER round, halving the
        # check jobs (each is an agg over a broadcast join of two
        # cached checkpoint leaves): detection can arrive one round
        # late, but iterating once past the fixpoint is a no-op, so
        # results are identical.  The check stays a SEPARATE query
        # after the checkpoint ON PURPOSE — folding the
        # labels-vs-new_labels join into the frame being checkpointed
        # (with the changed flag as a column) looks cheaper but sends
        # the JVM's toRdd planning time exponential (~4x per round,
        # measured; lazy localCheckpoint likewise never truncates when
        # materialized through a derived query).  Do not refold.
        if it % 2 == 1 or it == max_iter - 1:
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), "node")
                       .select((F.col("n.label") != F.col("o.label"))
                               .cast("long").alias("chg"))
                       .agg(F.sum("chg")).first()[0]
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            labels = new_labels
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster"),
                         (F.col("node") == F.col("label"))
                         .alias("is_keeper"))


# ---------------------------------------------------------------------------
# similarity search over embeddings


def _dot_expr(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) ->"
            f" CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D,"
            f" (acc, v) -> acc + v)")


def _norm_expr(a: str) -> str:
    return f"sqrt({_dot_expr(a, a)})"


def _seq_norm(v) -> float:
    """Driver-side replica of ``_norm_expr`` on a literal vector: the
    SAME left-to-right double fold (acc + x*x) the SQL aggregate runs,
    so substituting the Python constant for the per-row expression is
    bit-identical (numpy's pairwise sum would NOT be — r6).  Hoisting it
    saves a dim-length interpreted HOF fold per scanned row."""
    import math
    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return math.sqrt(acc)


# Every similarity query runs against vector 0 and returns its top 10.
QUERY_VEC_ID = 0
TOP_K = 10


def _cosine_raw(emb: DataFrame) -> DataFrame:
    """vec_id + full-precision cosine vs the broadcast query row.

    The query norm is computed ONCE on the broadcast side (r6): it is a
    per-query constant, and the old per-row ``sqrt(aggregate(q...))``
    re-ran a dim-length fold for every scanned vector — a third of the
    scan's HOF work.  Same operations on the same doubles, so the
    division is bit-identical and the driver hashes are unchanged."""
    q = (emb.filter(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("embedding").alias("q"))
         .withColumn("q_norm", F.expr(_norm_expr("q"))))
    return (emb.crossJoin(F.broadcast(q))
            .select("vec_id",
                    (F.expr(_dot_expr("embedding", "q"))
                     / (F.expr(_norm_expr("embedding"))
                        * F.col("q_norm"))).alias("c")))


def cosine_to_query(emb: DataFrame) -> DataFrame:
    """Brute-force cosine of every vector against the query vector.

    The query row is broadcast (single row); the scan itself never
    shuffles — this is the exact-search baseline that any ANN variant is
    measured against."""
    # + 0.0 canonicalizes IEEE -0.0 (engines disagree on its rendering)
    return _cosine_raw(emb).select(
        "vec_id", (F.round("c", 3) + F.lit(0.0)).alias("cosine"))


def ann_topk_brute(emb: DataFrame) -> DataFrame:
    # rank on the UNROUNDED cosine (ties at 3dp would be engine-dependent)
    return (_cosine_raw(emb)
            .orderBy(F.desc("c"), F.asc("vec_id"))
            .limit(TOP_K)
            .select("vec_id", (F.round("c", 3) + F.lit(0.0)).alias("cosine")))


def _lsh_planes(dim: int, n_planes: int) -> np.ndarray:
    # deterministic hyperplanes; fixed seed -> identical across executors
    return np.random.RandomState(42).randn(n_planes, dim)


def _query_vec(emb: DataFrame) -> np.ndarray:
    """The query embedding, collected ONCE (one driver job) — dimension,
    probe buckets/cells and the rerank literal all derive from it."""
    qrow = (emb.filter(F.col("vec_id") == QUERY_VEC_ID)
            .select("embedding").first())
    return np.asarray(qrow["embedding"], dtype=np.float64)


def _lit_vec(v: np.ndarray):
    """Literal array column for a collected query vector — reranks join
    against a constant instead of re-scanning the table for one row.
    float32 -> float64 promotion is exact, so the cosines are
    bit-identical to joining the original float column."""
    return F.array(*[F.lit(float(x)) for x in v])


def _srp_codes(planes: np.ndarray, tables: int, bits: int):
    """Arrow-batched SRP band codes: one matmul pass emits, per vector,
    ``tables`` table-tagged bucket codes (table_id << bits | bucket)."""
    weights = 1 << np.arange(bits)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def codes_of(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy())
        b = (mat @ planes.T) > 0                       # (n, tables*bits)
        out = np.zeros((len(mat), tables), dtype="int32")
        for t in range(tables):
            seg = b[:, t * bits:(t + 1) * bits]
            out[:, t] = (seg * weights).sum(axis=1) | (t << bits)
        return pd.Series(list(out))

    return codes_of


def _lsh_query_codes(qv: np.ndarray, planes: np.ndarray,
                     tables: int, bits: int) -> list[int]:
    """Driver-side twin of :func:`_srp_codes` for one query vector —
    the same (float64-promoted) matmul the executors run."""
    weights = 1 << np.arange(bits)
    qbits = (planes @ qv) > 0
    return [int((qbits[t * bits:(t + 1) * bits] * weights).sum()
                | (t << bits)) for t in range(tables)]


def ann_topk_lsh(emb: DataFrame) -> DataFrame:
    """Scale path: multi-table sign-random-projection LSH + exact rerank
    on the union of the query's buckets.

    Classic (L, m) LSH: L = 10 independent tables of m = 3
    hyperplanes each; a vector is a candidate iff it lands in the
    query's bucket of ANY table — P(candidate) = 1-(1-(1-θ/π)^m)^L,
    the amplification that buys high recall on weakly-concentrated data.
    One Arrow pass emits all table codes as an array column and the
    candidate filter is ``arrays_overlap`` against the query's literal
    codes, so the whole probe is SHUFFLE-FREE (scan -> filter -> top-k).

    (L=10, m=3) measures recall@10 >= 0.9 on the driver's synthetic
    embeddings — a near-ISOTROPIC corpus (top-10 neighbors at cos~0.3,
    i.e. ~73 degrees) that is the worst case for angular LSH, which is
    why the candidate fraction is ~0.75 here.  Clustered real-world
    embeddings concentrate far tighter: the same structure prunes
    aggressively (fewer tables / more bits per table).  On this corpus
    shape the data-adaptive IVF path (``ann_topk_ivf``: recall 1.0
    scanning 1/4 of cells) is the better scale path; the gates for both
    are driver-checked via ``ann_recall``."""
    tables, bits = 10, 3
    qv = _query_vec(emb)
    planes = _lsh_planes(qv.size, tables * bits)
    codes_of = _srp_codes(planes, tables, bits)
    qcodes = _lsh_query_codes(qv, planes, tables, bits)
    cand = (emb.withColumn("codes", codes_of("embedding"))
            .filter(F.arrays_overlap(
                "codes", F.array(*[F.lit(c) for c in qcodes]))))
    return (cand.withColumn("q", _lit_vec(qv))
            .select("vec_id",
                    F.round(
                        F.expr(_dot_expr("embedding", "q"))
                        / (F.expr(_norm_expr("embedding"))
                           * F.lit(_seq_norm(qv))), 3)
                    .alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(TOP_K))


# cosine at or above which two embeddings are near duplicates
NEAR_DUP_COSINE = 0.40


def embedding_near_dup(emb: DataFrame) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (v1 < v2) with
    cosine >= ``NEAR_DUP_COSINE``.

    This is the exact O(n^2) baseline (norms computed once per row, the
    smaller side broadcast); at corpus scale the blocked
    ``embedding_near_dup_lsh`` variant is the one to run — this version
    is its correctness oracle.  The threshold is applied to the
    UNROUNDED cosine (rounding first would make the boundary
    engine-dependent); display value rounds after."""
    n = emb.select("vec_id", "embedding",
                   F.expr(_norm_expr("embedding")).alias("nrm"))
    a = n.select(F.col("vec_id").alias("v1"),
                 F.col("embedding").alias("e1"), F.col("nrm").alias("n1"))
    b = n.select(F.col("vec_id").alias("v2"),
                 F.col("embedding").alias("e2"), F.col("nrm").alias("n2"))
    return (a.join(F.broadcast(b), F.col("v1") < F.col("v2"))
            .withColumn("c", F.expr(_dot_expr("e1", "e2"))
                        / (F.col("n1") * F.col("n2")))
            .filter(F.col("c") >= NEAR_DUP_COSINE)
            .select("v1", "v2",
                    (F.round("c", 3) + F.lit(0.0)).alias("cosine")))


def embedding_near_dup_lsh(emb: DataFrame) -> DataFrame:
    """Scale path for embedding near-dup: banded sign-random-projection
    blocking (8 bands x 3 deterministic hyperplanes; a pair is a
    candidate iff all 3 bits of some band agree), then exact cosine on
    candidates only.

    The equi-join on band codes replaces the all-pairs cross join —
    O(sum of bucket^2) instead of O(n^2), the same blocking structure as
    ``minhash_candidates``.  Output is a subset of
    ``embedding_near_dup`` (the exact filter never admits a false
    positive); recall is governed by (bands, r) and pinned by
    tests/test_embedding_ops.py."""
    bands, r = 8, 3
    first = emb.select(F.size("embedding").alias("d")).first()
    dim = int(first["d"])
    planes = _lsh_planes(dim, bands * r)
    codes_of = _srp_codes(planes, bands, r)   # same banded-code family
    coded = emb.select("vec_id",
                       F.explode(codes_of("embedding")).alias("code"))
    a = coded.select(F.col("vec_id").alias("v1"), "code")
    b = coded.select(F.col("vec_id").alias("v2"), "code")
    cand = (a.join(b, "code")
            .filter(F.col("v1") < F.col("v2"))
            .select("v1", "v2")
            .distinct())
    n = emb.select("vec_id", "embedding",
                   F.expr(_norm_expr("embedding")).alias("nrm"))
    e1 = n.select(F.col("vec_id").alias("v1"),
                  F.col("embedding").alias("e1"), F.col("nrm").alias("n1"))
    e2 = n.select(F.col("vec_id").alias("v2"),
                  F.col("embedding").alias("e2"), F.col("nrm").alias("n2"))
    return (cand.join(e1, "v1").join(e2, "v2")
            .withColumn("c", F.expr(_dot_expr("e1", "e2"))
                        / (F.col("n1") * F.col("n2")))
            .filter(F.col("c") >= NEAR_DUP_COSINE)
            .select("v1", "v2",
                    (F.round("c", 3) + F.lit(0.0)).alias("cosine")))


_LLOYD_SCALE = 1 << 20   # fixed-point scale for exact distributed sums
IVF_CELLS = 16           # coarse-quantizer cells
IVF_PROBE = 4            # cells a query reranks in


def _ivf_centroids(emb: DataFrame) -> np.ndarray:
    """Deterministic coarse-quantizer centroids: FAISS-style sample
    init (the embeddings of the ``IVF_CELLS`` smallest vec_ids, L2-
    normalized) refined by 2 fixed-iteration Lloyd passes.

    Every sweep is bit-reproducible — the property the resume protocol
    relies on — because the per-cell mean is computed from FIXED-POINT
    integer sums: each component is floored to ``v * 2^20`` long
    before the ``groupBy(cell, dim).sum()``, so the aggregate is exact
    integer addition and immune to Spark's partition/merge order
    (a double sum would drift by ulps run-to-run and could flip a
    near-tie argmax assignment).  Headroom: 2^63 / 2^20 ≈ 8.8e18/1e6 —
    ~10^12 unit-scale components per (cell, dim) before overflow,
    beyond any single cell at target scale.

    Driver traffic stays bounded: one 16-row init collect plus one
    16 x dim fixed-point-sum collect per sweep, pinned by
    tests/test_embedding_ops.py.  Empty cells keep
    their previous centroid (the standard Lloyd convention)."""
    cents = (emb.orderBy("vec_id").limit(IVF_CELLS)
             .select("embedding").collect())
    C = np.stack([np.asarray(row["embedding"], dtype=np.float64)
                  for row in cents])
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    for _ in range(2):
        assigned = ivf_assign(emb, C)
        rows = (assigned
                .select("cell", F.posexplode("embedding")
                        .alias("dim", "v"))
                .groupBy("cell", "dim")
                .agg(F.sum(F.floor(F.col("v").cast("double")
                                   * _LLOYD_SCALE).cast("long"))
                     .alias("s"),
                     F.count("*").alias("n"))
                .collect())
        acc = np.zeros_like(C)
        cnt = np.zeros(IVF_CELLS, dtype=np.int64)
        for r in rows:
            acc[r["cell"], r["dim"]] = r["s"] / _LLOYD_SCALE
            cnt[r["cell"]] = r["n"]
        newC = C.copy()
        nonempty = cnt > 0
        newC[nonempty] = acc[nonempty] / cnt[nonempty, None]
        C = newC / np.linalg.norm(newC, axis=1, keepdims=True)
    return C


def ivf_assign(emb: DataFrame, centroids: np.ndarray) -> DataFrame:
    """emb + ``cell`` = argmax-cosine centroid id: one Arrow-vectorized
    matmul pass.  At cluster scale ``cell`` doubles as the table's
    physical partition key so a probe prunes files."""
    @F.pandas_udf(T.IntegerType())
    def cell_of(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        return pd.Series(np.argmax(mat @ centroids.T, axis=1)
                         .astype("int32"))

    return emb.withColumn("cell", cell_of("embedding"))


def ivf_probe_cells(query_vec: np.ndarray,
                    centroids: np.ndarray) -> list[int]:
    """The ``IVF_PROBE`` cell ids nearest (by cosine) to the query
    vector — pure driver-side math over the already-collected
    centroids."""
    qv = query_vec / np.linalg.norm(query_vec)
    return [int(c) for c in np.argsort(-(centroids @ qv))[:IVF_PROBE]]


def ann_topk_ivf(emb: DataFrame) -> DataFrame:
    """IVF-Flat ANN: a coarse quantizer partitions vectors into cells;
    the query reranks exactly inside its ``IVF_PROBE`` nearest cells
    only — the candidate scan touches ~4/16 of the table instead of
    all of it.

    Exactly two driver jobs launch before the rerank: one centroid
    collect (16 rows) and one query-vector collect — probe-cell
    selection is driver-side math and the rerank joins a literal."""
    Cn = _ivf_centroids(emb)
    qv = _query_vec(emb)
    probe = ivf_probe_cells(qv, Cn)
    cand = ivf_assign(emb, Cn).filter(F.col("cell").isin(probe))
    return (cand.withColumn("q", _lit_vec(qv))
            .withColumn("c", F.expr(_dot_expr("embedding", "q"))
                        / (F.expr(_norm_expr("embedding"))
                           * F.lit(_seq_norm(qv))))
            .orderBy(F.desc("c"), F.asc("vec_id"))
            .limit(TOP_K)
            .select("vec_id", "cell",
                    (F.round("c", 3) + F.lit(0.0)).alias("cosine")))


def ann_recall(emb: DataFrame, variant: str = "lsh") -> DataFrame:
    """Driver-checkable recall gate for an ANN scale path: one row
    ``(k, brute_topk_digest, recall_floor_met)``.

    ``brute_topk_digest`` is md5 over the sorted brute-force top-k ids —
    an oracle (DuckDB) recomputes it independently from the exact-search
    SQL, so the ground-truth side of the gate is genuinely cross-checked.
    ``recall_floor_met`` asserts |approx ∩ brute| >= ceil(0.8 k); the
    oracle cannot run LSH/IVF, so its twin pins the column to TRUE — a
    recall regression below the floor flips the value and fails the
    hash."""
    brute = ann_topk_brute(emb).select("vec_id")
    fn = ann_topk_lsh if variant == "lsh" else ann_topk_ivf
    approx = fn(emb).select("vec_id")
    bstats = brute.agg(
        F.count("*").alias("k"),
        F.md5(F.concat_ws(",", F.sort_array(
            F.collect_list(F.col("vec_id").cast("string")))))
        .alias("brute_topk_digest"))
    hits = (brute.join(approx, "vec_id", "left_semi")
            .agg(F.count("*").alias("n_hits")))
    return (bstats.crossJoin(hits)
            .select("k", "brute_topk_digest",
                    (F.col("n_hits")
                     >= F.ceil(F.lit(0.8) * F.col("k")).cast("long"))
                    .alias("recall_floor_met")))


def near_dup_lsh_quality(emb: DataFrame) -> DataFrame:
    """Driver-checkable quality gate for the blocked near-dup path: one
    row ``(n_exact, subset_ok, recall_floor_met)``.

    ``n_exact`` (the exact all-pairs count at the threshold) is
    recomputed independently by the DuckDB twin; ``subset_ok`` asserts
    the LSH output admits no pair outside the exact answer (the exact
    re-filter guarantees it — a violation is a bug, not tuning) and
    ``recall_floor_met`` asserts recall >= 0.8, both pinned TRUE by
    the twin."""
    exact = embedding_near_dup(emb).select("v1", "v2")
    lsh = embedding_near_dup_lsh(emb).select("v1", "v2")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    hits = (lsh.join(exact, ["v1", "v2"], "left_semi")
            .agg(F.count("*").alias("n_hits")))
    return (n_exact.crossJoin(n_lsh).crossJoin(hits)
            .select("n_exact",
                    (F.col("n_hits") == F.col("n_lsh")).alias("subset_ok"),
                    (F.col("n_hits")
                     >= F.ceil(F.lit(0.8) * F.col("n_exact"))
                     .cast("long"))
                    .alias("recall_floor_met")))


def embedding_project(emb: DataFrame) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson-Lindenstrauss
    style): one Arrow matmul pass against a SEEDLESS md5-derived matrix
    P[i][j] = (md5("i|j")[0] - 127.5) / 127.5 — a hash-defined matrix
    both engines can regenerate, so unlike RNG-seeded planes the whole
    reduction is DuckDB-oracle-checkable.  Output exploded to
    (vec_id, dim, value) rows; value reported as floor(x * 1e4) int64
    AFTER the fold (sum order differs across engines by ulps; floor at
    4dp absorbs it, and unlike round() it has no half-boundary where
    the two engines' rounding modes diverge)."""
    import hashlib
    dim_row = emb.select(F.size("embedding").alias("d")).first()
    dim = int(dim_row["d"])
    P = np.array([[(hashlib.md5(f"{i}|{j}".encode()).digest()[0]
                    - 127.5) / 127.5
                   for j in range(16)] for i in range(dim)])

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy()).astype(np.float64)
        return pd.Series(list(mat @ P))

    return (emb.select("vec_id",
                       F.posexplode(proj("embedding"))
                       .alias("dim", "value"))
            .select("vec_id", "dim",
                    F.floor(F.col("value") * 10000).cast("long")
                    .alias("value_e4")))


def label_centroid_sim(emb: DataFrame) -> DataFrame:
    """Per-label mean-vector cohesion: avg cosine of members to their
    label centroid — a grouped array aggregation exercise.

    Centroids come from ``posexplode`` -> ``groupBy(label, dim).sum()``:
    the aggregation buffer is one double per (label, dim) cell and
    partial sums combine map-side, so a label with 10^8 members costs
    the same reducer memory as one with 10.  (The previous
    ``aggregate(collect_list(embedding), ...)`` shape materialized every
    member vector of a label in a single buffer — OOM by design at
    few-labels/many-members scale.)  The per-label array rebuild
    collect_lists dim-many (dim, sum) structs — bounded by the embedding
    width, never by member count."""
    summed = (emb.select("label",
                         F.posexplode("embedding").alias("dim", "x"))
              .groupBy("label", "dim")
              .agg(F.sum(F.col("x").cast("double")).alias("s")))
    nmem = emb.groupBy("label").agg(F.count("*").alias("n"))
    cent = (summed
            .groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "s"))),
                lambda t: t["s"]).alias("sumvec"))
            .join(F.broadcast(nmem), "label")
            .select("label", "n",
                    F.expr("transform(sumvec, x -> x / n)")
                    .alias("centroid")))
    # centroid norm hoisted to the (tiny) broadcast side — a per-label
    # constant the old expression re-folded for every member row (r6;
    # same doubles, same fold order, so cosines are bit-identical)
    joined = emb.join(F.broadcast(cent.withColumn(
        "c_norm", F.expr(_norm_expr("centroid")))), "label")
    return (joined
            .select("label",
                    (F.expr(_dot_expr("embedding", "centroid"))
                     / (F.expr(_norm_expr("embedding"))
                        * F.col("c_norm"))).alias("cos"))
            .groupBy("label")
            .agg(F.round(F.avg("cos"), 3).alias("avg_cohesion"),
                 F.count("*").alias("n_members")))


def vocab_sketch_rollup(docs: DataFrame) -> DataFrame:
    """MERGEABLE vocabulary sketches: one Apache DataSketches HLL per
    language (``hll_sketch_agg``) plus the corpus total obtained by
    UNIONING the stored per-language sketches (``hll_union_agg``) —
    never rescanning the tokens.  That mergeability is the property
    that matters at 100 TB: per-partition/per-day sketches persist as
    binary columns and roll up to any coarser grain with constant
    memory, where ``approx_count_distinct`` gives one opaque number.

    Gate pattern (like distinct_token_sketch / ANN recall): each row
    pins |approx - exact| <= 0.05 * exact as a boolean the DuckDB twin
    recomputes from the exact side only — sketch drift fails the
    hash.  Output: one row per lang plus an ``__all__`` row from the
    sketch UNION."""
    words = docs.select("lang", F.explode(F.expr(TOKENS)).alias("word"))
    per_lang = words.groupBy("lang").agg(
        F.hll_sketch_agg("word").alias("sk"),
        F.countDistinct("word").alias("n_exact"))
    # corpus exact distinct (a word in two langs counts once)
    total_exact = words.agg(
        F.countDistinct("word").alias("n_exact"))
    union = (per_lang
             .agg(F.hll_union_agg("sk").alias("sk"))
             .crossJoin(F.broadcast(total_exact))
             .select(F.lit("__all__").alias("lang"),
                     F.hll_sketch_estimate("sk").alias("n_approx"),
                     "n_exact"))
    per = per_lang.select(
        "lang", F.hll_sketch_estimate("sk").alias("n_approx"),
        "n_exact")
    return (per.unionByName(union)
            .select("lang", F.col("n_exact").cast("long").alias("n_exact"),
                    (F.abs(F.col("n_approx") - F.col("n_exact"))
                     <= 0.05 * F.col("n_exact")).alias("within_tol")))


BLOOM_M = 1 << 20          # bits in the filter
BLOOM_K = 7                # hash functions


def _bloom_pos(gram, j):
    """Hash position j of a gram: md5-derived, engine-portable."""
    return (F.conv(F.substring(F.md5(F.concat_ws(
        "|", gram, F.lit(str(j)))), 1, 15), 16, 10)
        .cast("long") % BLOOM_M)


def contamination_bloom(docs: DataFrame) -> DataFrame:
    """Bloom-filter decontamination pre-screen, expressed RELATIONALLY
    so it is bit-exactly reproducible by the DuckDB twin (false
    positives included — the twin recomputes the same md5 bit math,
    so this is a full-strength hash gate, not a tolerance gate).

    Scale story: at 100 TB the cheap first pass over the corpus is a
    Bloom filter of the eval-suite grams — a few MB regardless of
    corpus size — and only bloom-positive rows pay the exact
    verification join.  Here the filter is its relational normal
    form: the benchmark's set bit POSITIONS (<= |bench| * k distinct
    ints, broadcastable) and a probe that marks a gram positive iff
    ALL k of its positions are set (count == k over a broadcast
    semi-join).  A production build swaps the inner representation
    for Spark's binary bloom + `might_contain` scan pushdown behind
    the same output schema; the gram-side explode-by-k is the
    documented cost of keeping the math engine-portable.

    Output per corpus doc: exact hit count, contaminated flag, bloom-
    positive count (>= exact by construction — no false negatives —
    which the twin verifies by recomputing both sides)."""
    bench, corpus = _bench_split(docs)
    bits = (bench.select(F.explode(F.array(
        *[_bloom_pos(F.col("gram"), j) for j in range(BLOOM_K)]))
        .alias("pos")).distinct())
    probe = (corpus.select(
        "doc_id", "gram",
        F.explode(F.array(*[_bloom_pos(F.col("gram"), j)
                            for j in range(BLOOM_K)])).alias("pos")))
    bloom_pos = (probe
                 .join(F.broadcast(bits), "pos", "left_semi")
                 .groupBy("doc_id", "gram")
                 .agg(F.count("*").alias("k_hits"))
                 .filter(F.col("k_hits") == BLOOM_K)
                 .groupBy("doc_id")
                 .agg(F.count("*").alias("n_bloom")))
    exact = (corpus.join(F.broadcast(bench), "gram", "left_semi")
             .groupBy("doc_id").agg(F.count("*").alias("n_exact")))
    return (docs.filter(F.col("doc_id") >= BENCH_MAX_DOC)
            .select("doc_id")
            .join(bloom_pos, "doc_id", "left")
            .join(exact, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_exact", F.lit(0)).cast("long")
                .alias("n_exact_hits"),
                (F.coalesce("n_exact", F.lit(0)) > 0)
                .alias("contaminated"),
                F.coalesce("n_bloom", F.lit(0)).cast("long")
                .alias("n_bloom_hits")))


# merges bpe_learn_merges learns, and its DuckDB twin replays
BPE_LEARN_MERGES = 6


def bpe_learn_merges(docs: DataFrame) -> DataFrame:
    """LEARN a BPE merge table from the corpus — tokenizer TRAINING,
    the counterpart of :func:`token_count_bpe_merged` (which applies a
    fixed table).  Standard Sennrich loop: count adjacent symbol pairs
    over the current segmentation, merge the most frequent pair
    (ties: lexicographically smallest — a total order, so the learned
    table is deterministic), repeat.

    Scale shape: each round is one partial+final pair-count aggregate
    over the corpus plus a 1-row argmax collect — rounds are O(vocab)
    driver traffic, like IVF's centroid sweeps; the segmentation state
    is re-derived per round by chaining ``replace`` projections (the
    separator-wrapped encoding of ``bpe_seg_count_expr``, where one
    replace is exactly one exhaustive leftmost merge).  Pair counting
    uses per-occurrence adjacency (overlaps counted), the common
    reference formulation.  The DuckDB twin replays the ENTIRE
    learning loop as chained CTEs whose per-round argmax feeds the
    next round's replace via scalar subqueries — both engines must
    learn the identical table, counts included."""
    s = BPE_SEP
    pat = BPE_PATTERN.replace("\\", "\\\\").replace("'", "\\'")
    spark = docs.sparkSession
    encs = (docs
            .select(F.explode(
                F.expr(f"regexp_extract_all(text, '{pat}', 0)"))
                .alias("seg"))
            .select(F.expr(
                f"concat('{s}', array_join(split(seg, ''), '{s}{s}'),"
                f" '{s}')").alias("enc")))
    toks = f"split(substring(enc, 2, length(enc) - 2), '{s}{s}')"
    pairs_expr = (
        f"CASE WHEN size({toks}) < 2 THEN array() "
        f"ELSE transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), '{s}', "
        f"element_at({toks}, i + 1))) END")
    learned = []
    for r in range(BPE_LEARN_MERGES):
        best = (encs
                .select(F.explode(F.expr(pairs_expr)).alias("pair"))
                .groupBy("pair").agg(F.count("*").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(1).collect())
        if not best:
            break
        a, b = best[0]["pair"].split(s)
        learned.append((r, a, b, best[0]["cnt"]))
        encs = encs.select(F.replace(
            F.col("enc"), F.lit(f"{s}{a}{s}{s}{b}{s}"),
            F.lit(f"{s}{a}{b}{s}")).alias("enc"))
    return spark.createDataFrame(
        learned, "rank long, a string, b string, pair_count long")


def bpe_learn_merges_sql() -> str:
    """DuckDB twin of :func:`bpe_learn_merges`: the full learning loop
    as chained CTEs — round r's best pair is an argmax CTE whose
    fields feed round r+1's replace through scalar subqueries."""
    sep = "chr(31)"
    # DuckDB standard string literals do NOT process backslash escapes
    # (unlike Spark SQL literals): escape quotes ONLY, or the regex
    # whitespace class [\t\n\x0B\f\r] turns into literal characters
    # and control whitespace mis-tokenizes (round-5 review finding,
    # reproduced on tab/CR-bearing docs; same convention as bpe_pat)
    pat = BPE_PATTERN.replace("'", "''")
    parts = [f"""segs AS (
      SELECT unnest(regexp_extract_all(text, '{pat}')) AS seg
      FROM documents),
    enc0 AS (
      SELECT ({sep} || array_to_string(string_split(seg, ''),
                                       {sep} || {sep}) || {sep}) AS enc
      FROM segs)"""]
    for r in range(BPE_LEARN_MERGES):
        toks = (f"string_split(substring(enc, 2, length(enc) - 2),"
                f" {sep} || {sep})")
        parts.append(f"""p{r} AS (
      SELECT unnest(CASE WHEN len(t) < 2 THEN []
                    ELSE [t[i] || {sep} || t[i+1]
                          for i in range(1, len(t))] END) AS pair
      FROM (SELECT {toks} AS t FROM enc{r})),
    b{r} AS (
      SELECT pair, count(*) AS cnt,
             string_split(pair, {sep})[1] AS a,
             string_split(pair, {sep})[2] AS b
      FROM p{r} GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1),
    enc{r + 1} AS (
      SELECT replace(enc,
                     (SELECT {sep} || a || {sep} || {sep} || b || {sep}
                      FROM b{r}),
                     (SELECT {sep} || a || b || {sep} FROM b{r})) AS enc
      FROM enc{r})""")
    selects = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, a, b, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM b{r}"
        for r in range(BPE_LEARN_MERGES))
    return "WITH " + ",\n    ".join(parts) + "\n" + selects


def heavy_hitters_gate(docs: DataFrame) -> DataFrame:
    """Misra-Gries heavy hitters (k = 64 counters) with the algorithm's
    own guarantee as the contract: every word with true frequency > N/k
    MUST appear in
    the merged candidate summary (no false negatives — the theorem,
    not a tolerance).

    Scale shape: each partition streams its tokens once through a
    k-counter Misra-Gries summary inside mapInPandas (state = k dict
    entries, regardless of partition size); only the p*k summary rows
    shuffle — candidate generation for a 10^12-token corpus costs a
    summary-sized aggregate instead of a full word-keyed shuffle.
    Proof sketch of the gate: per partition, MG undercounts any word
    by at most n_p/k, so the summed merged count of w is >=
    true(w) - N/k > 0 whenever true(w) > N/k — w must survive.

    The candidate SET depends on partitioning (not deterministic), so
    it stays internal; the OUTPUT is the deterministic exact side —
    every qualifying word, its exact count, and the pinned membership
    boolean (exact counts recomputed by the DuckDB twin; a false
    negative flips the boolean and fails the hash)."""
    from typing import Iterator

    import pandas as pd

    k = 64
    words = docs.select(F.explode(F.expr(TOKENS)).alias("word"))

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["word"]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < k:
                    counters[w] = 1
                else:                      # decrement-all step
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame(list(counters.items()),
                           columns=["word", "mg_count"])

    candidates = (words.mapInPandas(mg, "word string, mg_count long")
                  .groupBy("word").agg(F.sum("mg_count").alias("mg")))
    exact = words.groupBy("word").agg(F.count("*").alias("freq"))
    n = words.agg(F.count("*").alias("n_tokens"))
    heavy = (exact.crossJoin(F.broadcast(n))
             .filter(F.col("freq") * k > F.col("n_tokens")))
    return (heavy.join(candidates, "word", "left")
            .select("word", F.col("freq").cast("long").alias("freq"),
                    F.col("mg").isNotNull().alias("found_by_sketch"))
            )
