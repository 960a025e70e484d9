"""Unit semantics for the text-analysis training ops on hand-built docs
(the sf-contract checks run on mostly-ASCII synthetic text, so the
interesting cases — token order, punct classes, line duplicates — are
pinned here)."""

import hashlib

import pytest


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "déjà vu"),          # decomposed é / à
        (2, "déjà vu"),            # precomposed — same NFC
        (3, "alpha beta gamma"),
        (4, "gamma beta alpha"),             # same tokens, other order
        (5, "Stop. Really, stop! Why?"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_rolling_fingerprint_is_order_sensitive(spark, docs):
    from ocr_proofreader_spark.operators.training_ops import \
        doc_fingerprint_rolling
    out = {r["doc_id"]: r["rolling_hash"]
           for r in doc_fingerprint_rolling(docs).collect()}
    assert out[3] != out[4]                  # permuted tokens differ
    # python reimplementation of the fold
    h = 0
    for t in "alpha beta gamma".split():
        tok = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        h = (h * 1000003 + tok) % 2147483647
    assert out[3] == h


def test_quality_metrics_counts(spark, docs):
    from ocr_proofreader_spark.operators.training_ops import quality_metrics
    out = {r["doc_id"]: r for r in quality_metrics(docs).collect()}
    r = out[5]                               # "Stop. Really, stop! Why?"
    assert r["n_tokens"] == 4
    assert r["n_punct"] == 4                 # one each of . , ! ?
    assert r["n_chars"] == len("Stop. Really, stop! Why?")
    assert out[3]["n_punct"] == 0


def test_line_dedup_corpus_on_multiline_duplicates(spark):
    """The driver fixture has zero newlines and zero duplicate lines,
    so this crafted corpus exercises the real path: cross-doc duplicate
    lines drop (first writer by (doc_id, idx) wins), within-doc order
    is preserved through the window + index-sorted rebuild, and an
    all-duplicate doc degenerates to the empty digest."""
    import hashlib

    from ocr_proofreader_spark.operators.training_ops import \
        line_dedup_corpus

    docs = spark.createDataFrame(
        [(0, "alpha\nshared\nbeta"),
         (1, "shared\ngamma"),        # 'shared' already owned by doc 0
         (2, "shared"),               # entire doc is duplicates
         (3, "alpha\nalpha\ndelta")], # within-corpus dup of doc 0 + self
        "doc_id long, text string")
    got = {r.doc_id: (r.clean_digest, r.n_lines_kept, r.n_lines_removed)
           for r in line_dedup_corpus(docs).collect()}

    def d(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got[0] == (d("alpha\nshared\nbeta"), 3, 0)
    assert got[1] == (d("gamma"), 1, 1)
    assert got[2] == (d(""), 0, 1)
    assert got[3] == (d("delta"), 1, 2)

    # and the DuckDB twin agrees on this corpus too
    import duckdb

    import __spark_entry__ as entrymod
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in [(0, "alpha\nshared\nbeta"), (1, "shared\ngamma"),
                 (2, "shared"), (3, "alpha\nalpha\ndelta")]:
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    orc = {r[0]: (r[1], r[2], r[3]) for r in con.execute(
        entrymod.oracle_sql()["line_dedup_corpus"]).fetchall()}
    assert orc == got


def test_line_dedup_corpus_idempotent(spark):
    """Fixpoint property: running line dedup over an already-deduped
    corpus removes nothing (every surviving line is unique by
    construction)."""
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.operators.training_ops import \
        line_dedup_corpus

    docs = spark.createDataFrame(
        [(0, "alpha\nshared\nbeta"), (1, "shared\ngamma"),
         (2, "shared"), (3, "alpha\nalpha\ndelta")],
        "doc_id long, text string")
    # reconstruct the cleaned texts, then re-run the operator on them
    first = line_dedup_corpus(docs)
    lines = (docs.select("doc_id",
                         F.posexplode(F.split("text", "\n"))
                         .alias("idx", "line")))
    from pyspark.sql import Window
    w = Window.partitionBy("line").orderBy("doc_id", "idx")
    clean = (lines.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") == 1)
             .groupBy("doc_id")
             .agg(F.array_join(F.transform(
                 F.array_sort(F.collect_list(F.struct("idx", "line"))),
                 lambda t: t["line"]), "\n").alias("text")))
    second = line_dedup_corpus(clean)
    assert {(r.doc_id, r.n_lines_removed)
            for r in second.collect()} == {(0, 0), (1, 0), (3, 0)}
    d1 = {r.doc_id: r.clean_digest for r in first.collect()}
    d2 = {r.doc_id: r.clean_digest for r in second.collect()}
    for k in d2:
        assert d2[k] == d1[k]


def _bpe_ref_count(text):
    """Pure-Python reference BPE: pre-tokenize, then apply each merge in
    rank order as one left-to-right non-overlapping pass (= exhaustive
    leftmost merging; see bpe_seg_count_expr's docstring)."""
    import re

    from ocr_proofreader_spark.operators.training_ops import (BPE_MERGES,
                                                              BPE_PATTERN)
    total = 0
    for seg in re.findall(BPE_PATTERN, text):
        toks = list(seg)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(toks):
                if (i + 1 < len(toks) and toks[i] == a
                        and toks[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        total += len(toks)
    return total


def test_bpe_merged_golden_and_ref_parity(spark):
    """Hand-computed merge sequences plus a pure-Python twin sweep: the
    JVM-side separator-replace implementation must equal real greedy
    BPE application on every case (back-to-back pairs, cascading
    merges, unicode, punctuation, whitespace runs)."""
    from ocr_proofreader_spark.operators.training_ops import \
        token_count_bpe_merged

    # "the" -> t h e -> th e -> the : 1 token.  " the" pre-tokenizes as
    # one segment " the" whose chars are [' ', t, h, e] -> [' ', the].
    cases = [
        (0, "the"),            # cascade (t,h) then (th,e)
        (1, "thethe"),         # the|the = 2
        (2, "aaa and sting"),  # 'and' cascade, 'sting' -> s t ing? no:
                               # s,t,i,n,g: (i,n)->in, (in,g)->ing,
                               # (s,t)->st => st|ing = 2
        (3, "ererer"),         # (e,r) back-to-back = er|er|er = 3
        (4, "déjà—vu 123"),    # unicode chars untouched by merges
        (5, "  \n\t  "),       # whitespace-run segment
        (6, ""),               # empty text -> 0
        (7, "llll"),           # (l,l) leftmost pairs = ll|ll = 2
    ]
    docs = spark.createDataFrame(cases, "doc_id long, text string")
    out = {r["doc_id"]: r["n_bpe_merged"]
           for r in token_count_bpe_merged(docs).collect()}
    # hand-derived expectations
    assert out[0] == 1          # "the"
    assert out[1] == 2          # the|the
    assert out[3] == 3          # er|er|er
    assert out[6] == 0
    assert out[7] == 2          # ll|ll
    for doc_id, text in cases:
        assert out[doc_id] == _bpe_ref_count(text), (doc_id, text)


def test_bpe_merged_hypothesis_vs_ref(spark):
    """Property sweep: random short texts over an alphabet that excites
    every merge rule agree with the pure-Python reference."""
    import random
    rng = random.Random(1234)
    alphabet = "theandingoures tl\n .,!x"
    cases = [(i, "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))))
             for i in range(60)]
    from ocr_proofreader_spark.operators.training_ops import \
        token_count_bpe_merged
    docs = spark.createDataFrame(cases, "doc_id long, text string")
    out = {r["doc_id"]: r["n_bpe_merged"]
           for r in token_count_bpe_merged(docs).collect()}
    for doc_id, text in cases:
        assert out[doc_id] == _bpe_ref_count(text), (doc_id, repr(text))


def test_pii_scrub_injected_fixtures(spark):
    """synth_pii injects deterministic emails/phones (md5-routed
    thirds); pii_scrub must count and redact exactly those, and the
    scrubbed text must contain no pattern matches."""
    import re

    from pyspark.sql import functions as F

    from ocr_proofreader_spark.operators.training_ops import (
        PII_EMAIL, PII_PHONE, pii_scrub, synth_pii)
    docs = spark.createDataFrame(
        [(i, f"plain text number {i}") for i in range(60)],
        "doc_id long, text string")
    injected = synth_pii(docs)
    rows = {r["doc_id"]: r["text"] for r in injected.collect()}
    out = {r["doc_id"]: r for r in pii_scrub(injected).collect()}
    n_email = n_phone = n_clean = 0
    for doc_id, text in rows.items():
        e = len(re.findall(PII_EMAIL, text))
        p = len(re.findall(PII_PHONE, text))
        assert out[doc_id]["n_emails"] == e
        assert out[doc_id]["n_phones"] == p
        n_email += e > 0
        n_phone += p > 0
        n_clean += (e == 0 and p == 0)
    # md5 routing puts docs in all three branches
    assert n_email and n_phone and n_clean
    # and scrubbing is complete: re-scrubbing the scrubbed text is a
    # fixpoint (digest of scrub(scrub(x)) == digest of scrub(x))
    scrubbed = injected.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL, "[EMAIL]"),
            PII_PHONE, "[PHONE]").alias("text"))
    again = {r["doc_id"]: r["scrubbed_digest"]
             for r in pii_scrub(scrubbed).collect()}
    for doc_id in rows:
        assert again[doc_id] == out[doc_id]["scrubbed_digest"]
        assert out[doc_id]["n_emails"] + out[doc_id]["n_phones"] >= 0


def test_simhash_near_dup_banding_is_lossless(spark):
    """The banded candidate join must find EXACTLY the pairs a brute
    hamming scan finds at radius 2 (pigeonhole: 2 differing bits leave
    >= 2 of 4 bands intact) — near-identical docs pair up, disjoint
    docs don't."""
    from ocr_proofreader_spark.operators.training_ops import (
        simhash, simhash_near_dup)
    base = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [(0, base), (1, base + "extra"), (2, base.replace("fox", "cat")),
         (3, "completely different words entirely unrelated corpus "
             "material nothing shared here at all " * 4),
         (4, base)],
        "doc_id long, text string")
    got = {(r["d1"], r["d2"]): r["hamming"]
           for r in simhash_near_dup(docs).collect()}
    # brute-force reference from the 16-bit fingerprints
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, 16).collect()}
    expected = {}
    ids = sorted(sh)
    for i in ids:
        for j in ids:
            if i < j:
                d = bin(sh[i] ^ sh[j]).count("1")
                if d <= 2:
                    expected[(i, j)] = d
    assert got == expected
    assert (0, 4) in got and got[(0, 4)] == 0   # identical docs pair


def test_benchmark_contamination(spark):
    """Docs sharing an 8-gram with the benchmark set (doc_id < 5) are
    flagged with the right hit count; disjoint docs are clean and
    benchmark docs are excluded from the report."""
    from ocr_proofreader_spark.operators.training_ops import \
        benchmark_contamination
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota"
    docs = spark.createDataFrame(
        [(0, bench_text), (1, "one two three four five six seven eight"),
         (5, "prefix " + bench_text),            # contains bench 8-grams
         (6, "one two three four five six seven eight"),  # = doc 1 (bench)
         (7, "totally clean text with nothing shared " * 3)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in benchmark_contamination(docs).collect()}
    assert set(out) == {5, 6, 7}                 # bench docs excluded
    assert out[5]["contaminated"] and out[5]["n_hits"] == 2
    # doc 6 equals bench doc 1: its single 8-gram is contaminated
    assert out[6]["contaminated"] and out[6]["n_hits"] == 1
    assert not out[7]["contaminated"] and out[7]["n_hits"] == 0


def test_quality_filter_verdicts(spark):
    """The composed C4/Gopher accept/reject verdict fires each flag on
    a crafted doc and accepts clean prose."""
    from ocr_proofreader_spark.operators.training_ops import quality_filter
    clean = ("the quick brown fox jumps over the lazy dog and keeps "
             "going with plenty of varied words in a normal shape " * 3)
    docs = spark.createDataFrame(
        [(0, clean),
         (1, "short text"),                              # too_short
         (2, "ab " * 60),                                # rep_2gram
         (3, "line\nline\nline\nline\nother " + clean),  # dup_lines
         (4, ("supercalifragilisticexpialidocious" * 3 + " ") * 60)],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_filter(docs).collect()}
    assert out[0]["accept"] and out[0]["reasons"] == ""
    assert not out[1]["accept"] and "too_short" in out[1]["reasons"]
    assert not out[2]["accept"] and "rep_2gram" in out[2]["reasons"]
    assert not out[3]["accept"] and "dup_lines" in out[3]["reasons"]
    assert not out[4]["accept"] and "token_shape" in out[4]["reasons"]
    # reasons are sorted csv
    for r in out.values():
        parts = r["reasons"].split(",") if r["reasons"] else []
        assert parts == sorted(parts)


def test_stratified_sample_deterministic_rates(spark):
    """Hash-based data mixing: membership is reproducible across
    partitionings and per-stratum keep fractions land near their rates."""
    from ocr_proofreader_spark.operators.training_ops import \
        stratified_sample
    docs = spark.createDataFrame(
        [(i, "text", ["en", "fr", "de"][i % 3]) for i in range(3000)],
        "doc_id long, text string, lang string")
    out = {r["doc_id"]: (r["kept"], r["sample_bucket"])
           for r in stratified_sample(docs).collect()}
    again = {r["doc_id"]: (r["kept"], r["sample_bucket"])
             for r in stratified_sample(docs.repartition(7)).collect()}
    assert out == again                         # bit-reproducible
    frac = {}
    rows = stratified_sample(docs).collect()
    for lang in ("en", "fr", "de"):
        sub = [r for r in rows if r["lang"] == lang]
        frac[lang] = sum(r["kept"] for r in sub) / len(sub)
    assert abs(frac["en"] - 0.8) < 0.05
    assert abs(frac["fr"] - 0.5) < 0.05
    assert abs(frac["de"] - 0.3) < 0.05         # MIX_OTHER stratum


def test_group_quantiles_disc_vs_bruteforce(spark):
    """The histogram+running-sum quantile equals the brute-force
    sorted-list pick (smallest value at cumulative rank ceil(p*n/100))
    on a crafted distribution with duplicates and singleton groups;
    plan keeps partial aggregates and the window sits on the
    distinct-value axis."""
    import math

    from ocr_proofreader_spark.operators.relational import \
        group_quantiles_disc
    import plan_shapes as P

    rows = []
    vals_a = [1.00] * 10 + [2.00] * 5 + [3.50] * 3 + [9.99]
    vals_b = [5.00]
    vals_c = [0.01 * i for i in range(1, 101)]
    for flag, vals in (("A", vals_a), ("B", vals_b), ("C", vals_c)):
        rows += [(flag, v) for v in vals]
    li = spark.createDataFrame(rows,
                               "l_returnflag string, "
                               "l_extendedprice double")
    got = {(r["flag"], r["p"]): r["q_cents"]
           for r in group_quantiles_disc(li).collect()}

    for flag, vals in (("A", vals_a), ("B", vals_b), ("C", vals_c)):
        cents = sorted(math.floor(v * 100) for v in vals)
        for p in (25, 50, 75, 95):
            idx = -(-len(cents) * p // 100)          # ceil, 1-based
            assert got[(flag, p)] == cents[idx - 1], (flag, p)

    out = group_quantiles_disc(li)
    plan = P.physical_plan(out)
    assert P.has_partial_aggregate(out)
    # the only window runs over the distinct-value histogram
    assert plan.count("windowspecdefinition") == 1


def test_vocab_sketch_rollup_mergeability(spark):
    """The unioned corpus sketch must estimate the TRUE corpus distinct
    (words shared across langs count once), not the sum of per-lang
    counts — that is the mergeability property the operator exists to
    demonstrate."""
    from ocr_proofreader_spark.operators.relational import \
        group_quantiles_disc  # noqa: F401 (module import sanity)
    from ocr_proofreader_spark.operators import training_ops as ops
    docs = spark.createDataFrame(
        [(1, "en", "shared alpha beta"),
         (2, "en", "shared gamma"),
         (3, "fr", "shared delta epsilon zeta")],
        "doc_id long, lang string, text string")
    rows = {r["lang"]: r for r in ops.vocab_sketch_rollup(docs).collect()}
    assert rows["en"]["n_exact"] == 4      # shared alpha beta gamma
    assert rows["fr"]["n_exact"] == 4      # shared delta epsilon zeta
    # corpus: 'shared' counted once -> 7, NOT 8
    assert rows["__all__"]["n_exact"] == 7
    assert all(r["within_tol"] for r in rows.values())


def test_contamination_bloom_superset_of_exact(spark):
    """Bloom pre-screen safety: every exactly-contaminated gram is
    bloom-positive (no false negatives, by construction of the all-k-
    positions-set rule), and a crafted contaminated doc is flagged."""
    from ocr_proofreader_spark.operators import training_ops as ops
    bench_text = " ".join(f"b{i}" for i in range(12))
    clean_text = " ".join(f"c{i}" for i in range(12))
    dirty_text = clean_text + " " + bench_text     # contains bench grams
    docs = spark.createDataFrame(
        [(0, bench_text), (1, bench_text),
         (2, bench_text), (3, bench_text), (4, bench_text),
         (10, clean_text), (11, dirty_text)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r
            for r in ops.contamination_bloom(docs).collect()}
    assert set(rows) == {10, 11}
    assert rows[11]["contaminated"] and rows[11]["n_exact_hits"] >= 5
    assert not rows[10]["contaminated"]
    for r in rows.values():
        assert r["n_bloom_hits"] >= r["n_exact_hits"]   # no false negs


def test_bpe_learn_merges_vs_pure_python(spark):
    """The distributed learner must equal a pure-Python Sennrich loop
    (per-occurrence pair counts, lexicographic tie-break) on a crafted
    corpus with ties and cascading merges."""
    import re
    from collections import Counter

    from ocr_proofreader_spark.operators.training_ops import (
        BPE_PATTERN, bpe_learn_merges)

    texts = ["the the there", "banana bandana", "aaa bbb aaa"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")

    segs = [list(s) for t in texts for s in re.findall(BPE_PATTERN, t)]

    def learn(segs, k):
        segs = [list(x) for x in segs]
        out = []
        for r in range(k):
            c = Counter()
            for toks in segs:
                for i in range(len(toks) - 1):
                    c[(toks[i], toks[i + 1])] += 1
            if not c:
                break
            best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
            (a, b), cnt = best
            out.append((r, a, b, cnt))
            for toks in segs:
                i = 0
                while i < len(toks) - 1:
                    if toks[i] == a and toks[i + 1] == b:
                        toks[i:i + 2] = [a + b]
                    else:
                        i += 1
            segs = [t for t in segs]
        return out

    exp = learn(segs, 6)
    got = [(r["rank"], r["a"], r["b"], r["pair_count"])
           for r in bpe_learn_merges(docs).collect()]
    assert got == exp, (got, exp)


def test_bpe_learn_merges_twin_on_control_whitespace(spark):
    """r5 review regression: the DuckDB twin's regex literal must NOT
    be backslash-doubled (DuckDB strings have no escape processing) —
    pinned on a corpus whose tabs/CR/punctuation-adjacent-newlines
    diverged under the corrupted pattern."""
    import duckdb

    from ocr_proofreader_spark.operators.training_ops import (
        bpe_learn_merges, bpe_learn_merges_sql)
    texts = ["a.\nb c\td", "x \t y\r\nz!", "the the there", "m\x0bn o\fp"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    got = [(r["rank"], r["a"], r["b"], r["pair_count"])
           for r in bpe_learn_merges(docs).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    exp = [tuple(r)
           for r in con.execute(bpe_learn_merges_sql()).fetchall()]
    assert got == exp


def test_heavy_hitters_mg_guarantee(spark):
    """Misra-Gries no-false-negative gate on a crafted skewed corpus
    with MANY partitions, each holding more distinct words than the 64
    counters — the adversarial regime for the decrement step — plus the
    exact-threshold semantics (freq*64 > N strictly)."""
    from ocr_proofreader_spark.operators import training_ops as ops
    # 12 partitions of ~160 docs over 320 distinct 't' words
    rows = []
    for i in range(1920):
        text = f"t{i % 320}" + (" filler" if i % 16 < 5 else "")
        rows.append((i, text + (" h" if i % 48 == 0 else "")))
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(12)
    out = {r["word"]: r for r in ops.heavy_hitters_gate(docs).collect()}
    # exact: N = 1920 + 600 'filler' + 40 'h' = 2560, so N/64 = 40:
    # filler is heavy (600 > 40) and h sits exactly on the threshold
    assert set(out) == {"filler"}
    assert out["filler"]["freq"] == 600
    assert out["filler"]["found_by_sketch"]
