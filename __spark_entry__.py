"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship proofreading pipeline on sf0.001;
``queries()`` exposes the engine's operators over the driver testdata;
``oracle_sql()`` gives DuckDB twins for every SQL-expressible query
(hashes are md5-based so both engines agree bit-for-bit; floats are
rounded AFTER ranking; array<float> outputs are projected to scalar
digests because the driver canonicalizer cannot hash list cells).
Non-SQL entries (the proofreading pipeline itself, LSH/IVF internals)
get the driver's rows-only check plus the pytest oracle-parity suite
(SURVEY.md section 5) — and the approximate-search paths additionally
carry driver-checked quality gates (ann_recall_*, near_dup_lsh_quality)
whose ground-truth columns the DuckDB twin recomputes independently."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# array<float> columns cannot survive the driver's pandas canonicalizer
# (sort_values factorizes cells -> "unhashable type: list"), so contract
# queries project them to a scalar digest computed IDENTICALLY in both
# engines: md5 over comma-joined floor(x * 1e6) int64s.  floor-of-double
# is bit-identical across Spark and DuckDB (a bare CAST is not: Spark
# truncates, DuckDB rounds), and both promote float32 -> float64 exactly.
def _digest_arr(col: str) -> str:
    """Spark SQL expression: deterministic scalar digest of array<float>."""
    return (f"md5(concat_ws(',', transform({col}, x -> "
            f"cast(cast(floor(cast(x as double) * 1000000) as bigint)"
            f" as string))))")


def _digest_arr_sql(col: str) -> str:
    """DuckDB twin of :func:`_digest_arr` (same bytes hashed)."""
    return (f"md5(array_to_string([CAST(CAST(floor(CAST(x AS DOUBLE)"
            f" * 1000000) AS BIGINT) AS VARCHAR) for x in {col}], ','))")


# ---------------------------------------------------------------------------
# flagship pipeline plumbing


def _corpus_lexicon(spark: SparkSession, flat: DataFrame,
                    min_freq: int = 20) -> frozenset:
    """Base dictionary + corpus-frequent words (S11 over the derived
    corpus), collected once and broadcast-ready."""
    from ocr_proofreader_spark.config import RunConfig
    from ocr_proofreader_spark.lexicon import load_base_lexicon
    base = load_base_lexicon(RunConfig().lexicon_path)
    # non-space runs == split-on-space minus empties; the positive-class
    # regexp scan measured ~8x cheaper than split+filter (round-1 bench)
    frequent = (flat
                .select(F.explode(F.expr(
                    'regexp_extract_all(lower(text), "[^ ]+", 0)'))
                    .alias("w"))
                .groupBy("w").count()
                .filter(F.col("count") >= min_freq)
                .collect())
    return frozenset(base | {r["w"] for r in frequent})


def _proofread_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_proofreader_spark.config import RunConfig
    from ocr_proofreader_spark.lexicon import broadcast_lexicon
    from ocr_proofreader_spark.operators.proofread import proofread
    from ocr_proofreader_spark.sources.interleaved import interleaved_from_flat

    flat = _t(spark, sf_dir, "documents")
    docs = interleaved_from_flat(flat)
    lex = _corpus_lexicon(spark, flat)
    # derivation bounds span counts (~2 spans per 40 words), so the skew
    # branch is statically pruned (threshold None): the old 1<<30
    # threshold still paid the union's second branch — which here meant
    # re-running the WHOLE interleaved_from_flat Python derivation two
    # more times (spans + freq legs of the chunked plan) just to filter
    # every row out (r6 measurement, plans/r06/proofread_flat_before.txt
    # shows three MapInPandas derivation scans; _after.txt shows one)
    cfg = RunConfig(chunk_threshold_spans=None)
    return proofread(spark, docs, cfg, broadcast_lexicon(spark, lex))


def _sessionize_stream_closed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionizer (applyInPandasWithState) over the
    events table via Trigger.AvailableNow; emits CLOSED sessions, which
    over a finite input equals 'all sessions but each user's last' — the
    SQL-expressible twin below."""
    from ocr_proofreader_spark.streaming.stateful import sessionize_stream
    return sessionize_stream(
        spark, os.path.join(sf_dir, "events.parquet"))


def _windowed_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation; over a finite
    AvailableNow input the append-mode output is exactly the windows the
    final watermark (max ts - 30 min) closed — the SQL twin below."""
    from ocr_proofreader_spark.streaming.windowed import \
        windowed_counts_stream
    return windowed_counts_stream(
        spark, os.path.join(sf_dir, "events.parquet"))


def _dedup_stream_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicates on content hash) over the
    documents table via Trigger.AvailableNow; the deterministic
    projection is the distinct hash set — the SQL twin below."""
    from ocr_proofreader_spark.streaming.dedup_stream import \
        dedup_stream_hashes
    return dedup_stream_hashes(
        spark, os.path.join(sf_dir, "documents.parquet"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _proofread_docs(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# queries


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocr_proofreader_spark.operators import training_ops as ops
    from ocr_proofreader_spark.operators.extraction import (
        extract_main_html, pdf_image_roundtrip, pdf_text_roundtrip,
        synth_html)
    from ocr_proofreader_spark.operators.multimodal import (
        decode_media_bytes, media_inventory, synth_payload)
    from ocr_proofreader_spark.operators.resume import bucket_col
    from ocr_proofreader_spark.sources.interleaved import interleaved_from_flat

    # non-space runs == split-on-space minus empties (cheaper scan; the
    # DuckDB twins keep the list_filter(string_split(...)) spelling and
    # hash-match because the outputs are identical)
    toks = 'regexp_extract_all(text, "[^ ]+", 0)'

    def doc_word_freq(spark, sf):
        return (_t(spark, sf, "documents")
                .select("doc_id", F.explode(F.expr(toks)).alias("word"))
                .groupBy("doc_id", "word")
                .agg(F.count("*").alias("freq")))

    def lexicon_frequent(spark, sf):
        return (_t(spark, sf, "documents")
                .select(F.explode(F.expr(toks)).alias("word"))
                .groupBy("word").agg(F.count("*").alias("freq"))
                .filter(F.col("freq") >= 100))

    def resume_anti_join(spark, sf):
        # S2 shape: drop keys already covered by the "done" side; the
        # done-set here is customers with a high-value order
        c = _t(spark, sf, "customer")
        done = (_t(spark, sf, "orders")
                .filter(F.col("o_totalprice") > 150000))
        return (c.join(F.broadcast(done), c.c_custkey == done.o_custkey,
                       "left_anti")
                .select("c_custkey"))

    def span_ordering(spark, sf):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (_t(spark, sf, "events")
                .select("user_id", "event_id",
                        F.row_number().over(w).cast("long").alias("rn")))

    def lineage_rollup(spark, sf):
        return (_t(spark, sf, "documents")
                .groupBy("lang")
                .agg(F.count("*").alias("docs"),
                     F.sum("n_chars").alias("total_chars")))

    def bucket_assignment(spark, sf):
        return (_t(spark, sf, "documents")
                .select(F.col("doc_id").cast("string").alias("doc_id"))
                .withColumn("bucket", bucket_col(16)))

    from ocr_proofreader_spark.operators import relational as rel

    return {
        # generic relational coverage (SURVEY.md section 2.4)
        "pricing_summary": lambda s, d: rel.pricing_summary(
            _t(s, d, "lineitem")),
        "region_revenue": lambda s, d: rel.region_revenue(
            _t(s, d, "region"), _t(s, d, "nation"),
            _t(s, d, "customer"), _t(s, d, "orders")),
        "top_words_per_lang": lambda s, d: rel.top_words_per_lang(
            _t(s, d, "documents")),
        "sessionize": lambda s, d: rel.sessionize(_t(s, d, "events")),
        "promo_revenue": lambda s, d: rel.promo_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")),
        "supplier_nation_revenue": lambda s, d: rel.supplier_nation_revenue(
            _t(s, d, "lineitem"), _t(s, d, "supplier"),
            _t(s, d, "nation")),
        "orders_rollup_cube": lambda s, d: rel.orders_rollup_cube(
            _t(s, d, "orders"), _t(s, d, "customer")),
        "asof_join": lambda s, d: rel.asof_join_events(
            _t(s, d, "events")),
        "sessionize_stream_closed": _sessionize_stream_closed,
        "windowed_counts_stream": _windowed_counts_stream,
        "dedup_stream_hashes": _dedup_stream_hashes,
        # watermarked stream-stream interval joins, inner + left-outer
        # (rotation r5: first driver rows for the 2-input stateful path)
        "stream_stream_join": _stream_stream_join,
        "stream_stream_join_outer": lambda s, d: __import__(
            "ocr_proofreader_spark.streaming.windowed",
            fromlist=["stream_stream_join_outer"]).stream_stream_join_outer(
                s, os.path.join(d, "events.parquet"),
                max_files_per_trigger=1),
        # multimodal plumbing — registered EARLY: the driver harness
        # verifies at most the first 50 keys in registration order.
        # The registry holds exactly 50; doc_fingerprint is NOT
        # derivable from doc_fingerprint_rolling and lives in
        # extra_queries() (still bit-exact-checked by the local gate).
        "media_inventory": lambda s, d: media_inventory(
            interleaved_from_flat(_t(s, d, "documents"))),
        # the one decode leg (scanned books carry page images only), a
        # REAL codec path end-to-end: synthesize a deterministic solid
        # PPM per ref, parse it with the pure-Python codec, band-extract
        # features — every output value independently recomputed by the
        # DuckDB twin from the ref's md5
        "media_decode_real": lambda s, d: decode_media_bytes(
            synth_payload(media_inventory(interleaved_from_flat(
                _t(s, d, "documents"))))).select(
                "doc_id", "media_ref", "page", "width", "height",
                F.expr(_digest_arr("features")).alias("features_digest"),
                "error"),
        # engine-shaped relational ops (SURVEY.md section 2.5)
        "doc_word_freq": doc_word_freq,
        "lexicon_frequent": lexicon_frequent,
        "resume_anti_join": resume_anti_join,
        "span_ordering": span_ordering,
        "lineage_rollup": lineage_rollup,
        "bucket_assignment": bucket_assignment,
        # text analysis (the plain token count is quality_metrics'
        # n_tokens column)
        "line_dedup_corpus": lambda s, d: ops.line_dedup_corpus(
            _t(s, d, "documents")),
        "lang_id_ngram": lambda s, d: ops.lang_id_ngram(
            _t(s, d, "documents")),
        "doc_fingerprint_rolling": lambda s, d: ops.doc_fingerprint_rolling(
            _t(s, d, "documents")),
        "quality_metrics": lambda s, d: ops.quality_metrics(
            _t(s, d, "documents")),
        "tfidf_top_terms": lambda s, d: ops.tfidf_top_terms(
            _t(s, d, "documents")),
        # main-content extraction (north_rule: HTML boilerplate strip)
        "html_main_content": lambda s, d: extract_main_html(
            synth_html(_t(s, d, "documents")))
            .select("doc_id", F.md5("main_text").alias("main_digest")),
        "pdf_text_roundtrip": lambda s, d: pdf_text_roundtrip(
            _t(s, d, "documents")),
        # scanned-page PDF: text layer + image XObject behind a doc_id-
        # rotating DCTDecode/FlateDecode/LZWDecode filter, decoded by
        # the repo's own JPEG / zlib / PDF-LZW codecs (rotation r5)
        "pdf_image_roundtrip": lambda s, d: pdf_image_roundtrip(
            _t(s, d, "documents")),
        # deduplication (minhash_candidates recomputes the minhash
        # signatures bit-identically; simhash_near_dup checks the simhash
        # operator at 16 bits, the `simhash` extra at 8)
        "dedup_exact": lambda s, d: ops.dedup_exact(_t(s, d, "documents")),
        "minhash_candidates": lambda s, d: ops.minhash_candidates(
            _t(s, d, "documents")),
        "simhash_near_dup": lambda s, d: ops.simhash_near_dup(
            _t(s, d, "documents")),
        "ngram_jaccard": lambda s, d: ops.ngram_jaccard(
            _t(s, d, "documents")),
        "dedup_clusters": lambda s, d: ops.dedup_clusters(
            _t(s, d, "documents")),
        # corpus quality + mixing (rotation r5: first driver rows)
        "quality_filter": lambda s, d: ops.quality_filter(
            _t(s, d, "documents")),
        "stratified_sample": lambda s, d: ops.stratified_sample(
            _t(s, d, "documents")),
        # text analysis: real rank-ordered BPE merges (rotation r5)
        "token_count_bpe_merged": lambda s, d: ops.token_count_bpe_merged(
            _t(s, d, "documents")),
        # similarity search (the l2 norm is a sub-expression of
        # cosine_all)
        "embedding_project": lambda s, d: ops.embedding_project(
            _t(s, d, "embeddings")),
        "cosine_all": lambda s, d: ops.cosine_to_query(
            _t(s, d, "embeddings")),
        # (the brute top-k digest is oracle-pinned inside BOTH
        # ann_recall gates below)  corpus-quality score:
        "unigram_logprob": lambda s, d: ops.unigram_logprob(
            _t(s, d, "documents")),
        "embedding_near_dup": lambda s, d: ops.embedding_near_dup(
            _t(s, d, "embeddings")),
        # rows-only (non-SQL-expressible): flagship pipeline + ANN scale
        # path + multimodal plumbing
        "proofread_spans": lambda s, d: (
            _proofread_docs(s, d)
            .select("doc_id", F.explode("spans").alias("sp"))
            .select("doc_id", F.col("sp.order").alias("ord"),
                    F.col("sp.kind").alias("kind"),
                    F.col("sp.text").alias("text"),
                    F.col("sp.media_ref").alias("media_ref"))),
        "proofread_doc_metrics": lambda s, d: (
            _proofread_docs(s, d)
            .select("doc_id", "span_count", "corrections", "flagged")),
        "ann_topk_lsh": lambda s, d: ops.ann_topk_lsh(
            _t(s, d, "embeddings")),
        "ann_topk_ivf": lambda s, d: ops.ann_topk_ivf(
            _t(s, d, "embeddings")),
        "embedding_near_dup_lsh": lambda s, d: ops.embedding_near_dup_lsh(
            _t(s, d, "embeddings")),
        "label_centroid_sim": lambda s, d: ops.label_centroid_sim(
            _t(s, d, "embeddings")),
        # ANN/near-dup quality gates: ground-truth side (brute digest /
        # exact pair count) recomputed by the DuckDB twin; the boolean
        # floor columns flip on a recall regression and fail the hash
        "ann_recall_lsh": lambda s, d: ops.ann_recall(
            _t(s, d, "embeddings"), variant="lsh"),
        "ann_recall_ivf": lambda s, d: ops.ann_recall(
            _t(s, d, "embeddings"), variant="ivf"),
        "near_dup_lsh_quality": lambda s, d: ops.near_dup_lsh_quality(
            _t(s, d, "embeddings")),
    }


# ---------------------------------------------------------------------------
# DuckDB oracles


_TOKS = "list_filter(string_split(text, ' '), w -> w <> '')"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                               for i in range(1, len(t)-1)])) AS shingle
  FROM toks WHERE len(t) >= 3
)"""


# Twin of sources/interleaved.py::_doc_to_spans media placement: pages
# of 40 words, a media span before every 4th page, all fields pure
# functions of the ref string — so every multimodal stage (incl. the
# synth_payload solid images) is SQL-expressible.
_MEDIA_CTE = """
nwords AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n
  FROM documents),
media AS (
  SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_id,
         'scan/doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0')
           || '/p' || lpad(CAST(page AS VARCHAR), 4, '0') || '.png'
             AS media_ref,
         CAST(page AS INT) AS page
  FROM (SELECT doc_id,
               unnest(range(0, CAST(ceil(greatest(n, 1) / 40.0)
                                    AS BIGINT))) AS page
        FROM nwords)
  WHERE (doc_id + page) % 4 = 0)"""


def _md5_byte(expr: str, j: int) -> str:
    return (f"CAST('0x' || substr(md5({expr}), {2 * j + 1}, 2) "
            f"AS INTEGER)")


# brute-force top-k ground truth for both ANN recall gates (the digest
# side is engine-independent; the floor boolean is pinned — see NOTE at
# the gate entries below)
_ANN_RECALL_ORACLE = """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT vec_id,
             list_sum([CAST(embedding[i] AS DOUBLE) * qe[i]
                       for i in range(1, len(embedding)+1)])
             / (sqrt(list_sum([CAST(x AS DOUBLE) * x for x in embedding]))
                * sqrt(list_sum([CAST(x AS DOUBLE) * x for x in qe])))
                 AS c
      FROM embeddings CROSS JOIN q),
    brute AS (SELECT vec_id FROM cos ORDER BY c DESC, vec_id LIMIT 10)
    SELECT count(*) AS k,
           md5(array_to_string(list_sort(list(CAST(vec_id AS VARCHAR))),
                               ',')) AS brute_topk_digest,
           true AS recall_floor_met
    FROM brute"""


from ocr_proofreader_spark.operators.extraction import extract_main_sql

_HTML_MAIN_ORACLE = extract_main_sql()


def oracle_sql() -> dict[str, str]:
    """Oracles for the driver-verified registry: the shared pool
    filtered by ``queries()`` keys.  Registry rotations (which query
    sits inside the driver's 50-key cap) only ever touch ``queries()``
    / ``extra_queries()`` — the pool is the single home of every SQL
    twin, so a promotion can never orphan or duplicate its oracle.
    Pool keys with no registry entry anywhere raise at build time;
    registry keys with no pool entry are the intentional rows-only
    set (non-SQL-expressible ops)."""
    pool = _oracle_pool()
    names = set(queries()) | set(extra_queries())
    orphans = set(pool) - names
    if orphans:
        raise KeyError(f"oracles without a registered query: {orphans}")
    return {k: pool[k] for k in queries() if k in pool}


def extra_oracle_sql() -> dict[str, str]:
    """Oracles for the local-gate extras: same pool, extras' keys."""
    pool = _oracle_pool()
    return {k: pool[k] for k in extra_queries() if k in pool}


def _oracle_pool() -> dict[str, str]:
    d = _main_oracles()
    d.update(_extra_oracles())
    return d


def _main_oracles() -> dict[str, str]:
    simhash_votes = ", ".join(
        f"sum(CASE WHEN (v >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(8))
    simhash_pack = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(8))
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "region_revenue": """
            SELECT r_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name""",
        "top_words_per_lang": f"""
            WITH counts AS (
              SELECT lang, word, count(*) AS cnt
              FROM (SELECT lang, unnest({_TOKS}) AS word FROM documents)
              GROUP BY lang, word)
            SELECT lang, word, cnt, rk FROM (
              SELECT lang, word, cnt,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY cnt DESC, word) AS rk
              FROM counts)
            WHERE rk <= 5""",
        "sessionize": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_ts
              FROM events),
            m AS (
              -- floor() matches Spark's unix_timestamp() truncation
              SELECT *, CASE WHEN prev_ts IS NULL THEN 1
                             WHEN floor(epoch(ts)) - floor(epoch(prev_ts))
                                  > 1800 THEN 1
                             ELSE 0 END AS new_sess
              FROM g),
            s AS (
              SELECT *, CAST(sum(new_sess) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_no
              FROM m)
            SELECT user_id, session_no, count(*) AS n_events,
                   CAST(min(floor(epoch(ts))) AS BIGINT) AS start_epoch,
                   CAST(max(floor(epoch(ts))) AS BIGINT) AS end_epoch,
                   round(sum(value), 3) AS total_value
            FROM s GROUP BY user_id, session_no""",
        "promo_revenue": """
            SELECT p_brand,
                   round(sum(CASE WHEN p_type LIKE 'PROMO%'
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0.0 END), 2) AS promo_rev,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_rev,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand""",
        "supplier_nation_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name""",
        "orders_rollup_cube": """
            SELECT CASE WHEN GROUPING(c_mktsegment) = 1 THEN 'ALL'
                        ELSE c_mktsegment END AS mktsegment,
                   CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                        ELSE o_orderstatus END AS orderstatus,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY ROLLUP (c_mktsegment, o_orderstatus)""",
        # twin of relational.asof_join_events via DuckDB's NATIVE ASOF
        # JOIN — an independent implementation of the semantics, not a
        # re-spelling of the engine's window trick.  The right side is
        # pre-deduped to max event_id per (user, ts) so equal-timestamp
        # winners are deterministic in both engines.
        "asof_join": """
            WITH l AS (SELECT user_id, event_id, ts FROM events
                       WHERE event_type = 'purchase'),
            r0 AS (SELECT user_id, ts, max(event_id) AS r_event_id
                   FROM events WHERE event_type = 'view'
                   GROUP BY user_id, ts)
            SELECT l.user_id, l.event_id,
                   r0.r_event_id AS matched_event_id,
                   CAST(floor(epoch(l.ts)) - floor(epoch(r0.ts))
                        AS BIGINT) AS lag_sec
            FROM l ASOF LEFT JOIN r0
              ON l.user_id = r0.user_id AND l.ts >= r0.ts""",
        "sessionize_stream_closed": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_ts
              FROM events),
            m AS (
              SELECT *, CASE WHEN prev_ts IS NULL THEN 1
                             WHEN floor(epoch(ts)) - floor(epoch(prev_ts))
                                  > 1800 THEN 1
                             ELSE 0 END AS new_sess
              FROM g),
            s AS (
              SELECT *, CAST(sum(new_sess) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_no
              FROM m),
            roll AS (
              SELECT user_id, session_no, count(*) AS n_events,
                     CAST(min(floor(epoch(ts))) AS BIGINT) AS start_epoch,
                     CAST(max(floor(epoch(ts))) AS BIGINT) AS end_epoch,
                     round(sum(value), 3) AS total_value
              FROM s GROUP BY user_id, session_no)
            SELECT * FROM roll
            WHERE session_no < (SELECT max(session_no) FROM roll r2
                                WHERE r2.user_id = roll.user_id)""",
        "dedup_stream_hashes": """
            SELECT DISTINCT md5(text) AS content_hash FROM documents""",
        "doc_word_freq": f"""
            SELECT doc_id, word, count(*) AS freq
            FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
            GROUP BY doc_id, word""",
        "lexicon_frequent": f"""
            SELECT word, count(*) AS freq
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)
            GROUP BY word HAVING count(*) >= 100""",
        "resume_anti_join": """
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 150000)""",
        "span_ordering": """
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events""",
        "lineage_rollup": """
            SELECT lang, count(*) AS docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY lang""",
        # twin of training_ops.tfidf_top_terms: rank on integers (tf
        # desc, word), report the rounded float idf score after ranking
        "tfidf_top_terms": f"""
            WITH tf AS (
              SELECT doc_id, word, count(*) AS tf
              FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
              GROUP BY doc_id, word),
            dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
            n AS (SELECT count(*) AS n_docs FROM documents),
            ranked AS (
              SELECT doc_id, word, tf,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tf DESC, word) AS rk
              FROM tf)
            SELECT r.doc_id, r.word, r.tf, d.df, r.rk,
                   CAST(floor(r.tf * ln(CAST(n_docs AS DOUBLE) / d.df)
                              * 10000) AS BIGINT) AS tfidf_e4
            FROM ranked r JOIN dfreq d USING (word) CROSS JOIN n
            WHERE r.rk <= 3""",
        # twin of operators/resume.py::bucket_col — the resume protocol's
        # replay unit; md5-derived (first 60 bits) precisely so an engine
        # other than Spark can recompute the assignment bit-for-bit
        "bucket_assignment": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 15) AS BIGINT) % 16
                        AS INT) AS bucket
            FROM documents""",
        # twin of training_ops.line_dedup_corpus: same first-writer-wins
        # rule via row_number over (doc_id, idx) — an intentionally
        # DIFFERENT selection mechanism than the engine's
        # min(struct) aggregate, so the hash cross-checks the rule, not
        # the plan
        "line_dedup_corpus": """
            WITH lines AS (
              SELECT doc_id,
                     unnest(range(0, len(ls))) AS idx,
                     unnest(ls) AS line
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                    FROM documents)),
            kept AS (
              SELECT doc_id, idx, line
              FROM (SELECT doc_id, idx, line,
                           row_number() OVER (PARTITION BY line
                                              ORDER BY doc_id, idx) AS rk
                    FROM lines)
              WHERE rk = 1),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY idx)
                         AS clean_text,
                     count(*) AS n_lines_kept
              FROM kept GROUP BY doc_id),
            totals AS (
              SELECT doc_id,
                     CAST(len(string_split(text, chr(10))) AS BIGINT)
                         AS n_lines
              FROM documents)
            SELECT t.doc_id,
                   md5(coalesce(clean_text, '')) AS clean_digest,
                   CAST(coalesce(n_lines_kept, 0) AS BIGINT)
                       AS n_lines_kept,
                   CAST(n_lines - coalesce(n_lines_kept, 0) AS BIGINT)
                       AS n_lines_removed
            FROM totals t LEFT JOIN rebuilt USING (doc_id)""",
        # twin of training_ops.lang_id_ngram: same trigram profiles via
        # the identical length-difference occurrence count
        "lang_id_ngram": ("""
            SELECT doc_id, {en} AS en_score, {fr} AS fr_score,
                   CASE WHEN {fr} > {en} THEN 'fr' ELSE 'en' END
                       AS lang_guess
            FROM documents""".format(
            en=" + ".join(
                f"CAST((length(lower(text)) - length(replace("
                f"lower(text), '{g}', ''))) / 3 AS BIGINT)"
                for g in ("the", "and", "ing", "ion", "tio", "hat",
                          "ith")),
            fr=" + ".join(
                f"CAST((length(lower(text)) - length(replace("
                f"lower(text), '{g}', ''))) / 3 AS BIGINT)"
                for g in ("les", "ent", "que", "des", "ait", "eur",
                          "ois")))),
        # twin of training_ops.doc_fingerprint_rolling: identical fold
        # (list_reduce has no explicit seed, so a 0 is prepended)
        "doc_fingerprint_rolling": f"""
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       [CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)
                        for t in {_TOKS}]),
                     (acc, x) -> (acc * 1000003 + x) % 2147483647)
                       AS rolling_hash
            FROM documents""",
        "quality_metrics": f"""
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                        AS BIGINT) AS n_punct,
                   CAST(len(list_filter({_TOKS},
                        w -> lower(w) IN ('the','a','of','and','in','to',
                                          'is'))) AS BIGINT) AS n_stopwords
            FROM documents""",
        # twin of extraction.synth_html + extract_main_html: the full
        # synthesize -> tag-strip -> density-filter pipeline recomputed
        # in SQL (see operators/extraction.py::extract_main_sql)
        "html_main_content": _HTML_MAIN_ORACLE,
        # twin of extraction.pdf_text_roundtrip: the oracle never sees
        # the PDF bytes — a lossy write/parse anywhere fails the hash
        "pdf_text_roundtrip": """
            SELECT doc_id, md5(text) AS pdf_text_digest FROM documents""",
        "dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keeper,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)""",
        "minhash_candidates": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, band, min(md5(shingle || '|' || band)) AS sig
              FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands
              GROUP BY doc_id, band),
            capped AS (
              SELECT * FROM (
                SELECT doc_id, band, sig,
                       count(*) OVER (PARTITION BY band, sig) AS _n
                FROM sig)
              WHERE _n <= 64)
            SELECT a.doc_id AS d1, b.doc_id AS d2
            FROM capped a JOIN capped b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
            GROUP BY 1, 2""",
        # twin of training_ops.dedup_clusters: same capped LSH candidate
        # pairs, then connected components as a recursive reachability
        # closure (min reachable id = component representative) — the
        # engine's iterative min-label propagation must converge to
        # exactly this fixpoint
        "dedup_clusters": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, band, min(md5(shingle || '|' || band)) AS sig
              FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bands
              GROUP BY doc_id, band),
            capped AS (
              SELECT * FROM (
                SELECT doc_id, band, sig,
                       count(*) OVER (PARTITION BY band, sig) AS _n
                FROM sig)
              WHERE _n <= 64),
            cand AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2
              FROM capped a JOIN capped b
                ON a.band = b.band AND a.sig = b.sig
                   AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            edges AS (SELECT d1 AS s, d2 AS t FROM cand
                      UNION ALL
                      SELECT d2 AS s, d1 AS t FROM cand),
            reach AS (
              SELECT doc_id AS node, doc_id AS root FROM documents
              UNION
              SELECT e.t AS node, r.root
              FROM reach r JOIN edges e ON e.s = r.node)
            SELECT node AS doc_id, min(root) AS cluster,
                   node = min(root) AS is_keeper
            FROM reach GROUP BY node""",
        "simhash": f"""
            WITH words AS (SELECT doc_id, unnest({_TOKS}) AS word
                           FROM documents),
            vals AS (SELECT doc_id,
                            CAST(('0x' || substr(md5(word), 1, 2))
                                 AS INTEGER) AS v
                     FROM words),
            votes AS (SELECT doc_id, {simhash_votes} FROM vals
                      GROUP BY doc_id)
            SELECT doc_id, CAST({simhash_pack} AS BIGINT) AS simhash
            FROM votes""",
        "ngram_jaccard": f"""
            WITH docs100 AS (SELECT * FROM documents WHERE doc_id < 100),
            toks AS (SELECT doc_id, {_TOKS} AS t FROM docs100),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t)-1)]))
                         AS shingle
              FROM toks WHERE len(t) >= 3),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh
                      GROUP BY doc_id),
            common AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT d1, d2,
                   round(common / (s1.n_sh + s2.n_sh - common), 3)
                       AS jaccard
            FROM common
            JOIN sizes s1 ON s1.doc_id = d1
            JOIN sizes s2 ON s2.doc_id = d2""",
        # twin of training_ops.embedding_project: the projection matrix
        # is md5-derived (not RNG-seeded) precisely so DuckDB regenerates
        # it; fold order differs by ulps — floor(x*1e4) int64 absorbs
        # them with no round-half boundary (Spark HALF_UP vs DuckDB
        # half-away-from-zero)
        "embedding_project": """
            SELECT vec_id, j AS dim,
                   CAST(floor(val * 10000) AS BIGINT) AS value_e4
            FROM (SELECT vec_id,
                         unnest(range(0, 16)) AS j,
                         unnest([list_sum(
                            [CAST(embedding[i] AS DOUBLE)
                             * ((CAST('0x' || substr(md5(
                                   CAST(i-1 AS VARCHAR) || '|'
                                   || CAST(j2 AS VARCHAR)), 1, 2)
                                 AS INTEGER) - 127.5) / 127.5)
                             for i in range(1, len(embedding)+1)])
                            for j2 in range(0, 16)]) AS val
                  FROM embeddings)""",
        "cosine_all": """
            WITH q AS (SELECT embedding AS qe FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id,
                   round(list_sum([CAST(embedding[i] AS DOUBLE) * qe[i]
                                   for i in range(1, len(embedding)+1)])
                         / (sqrt(list_sum([CAST(x AS DOUBLE) * x
                                           for x in embedding]))
                            * sqrt(list_sum([CAST(x AS DOUBLE) * x
                                             for x in qe]))), 3) + 0.0
                       AS cosine
            FROM embeddings CROSS JOIN q""",
        "windowed_counts_stream": """
            WITH w AS (
              SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)
                         AS window_start,
                     event_type, count(*) AS n_events,
                     round(sum(value), 3) AS total_value
              FROM events GROUP BY 1, 2),
            mx AS (SELECT max(floor(epoch(ts))) AS m FROM events)
            SELECT window_start, event_type, n_events, total_value
            FROM w, mx WHERE window_start + 3600 <= m - 1800""",
        "media_inventory": f"""
            WITH {_MEDIA_CTE}
            SELECT doc_id, media_ref, page FROM media""",
        # twin of training_ops.label_centroid_sim: per-dimension sums via
        # zipped unnest, centroid = sum/n, avg member->centroid cosine.
        # Accumulation order differs between engines (Spark folds
        # collect_list, DuckDB hash-aggregates) but the 3dp round absorbs
        # the ~1e-13 float noise.
        "label_centroid_sim": """
            WITH ex AS (
              SELECT label,
                     unnest(range(1, len(embedding)+1)) AS i,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings),
            cent_sum AS (
              SELECT label, i, sum(x) AS s FROM ex GROUP BY label, i),
            nmem AS (SELECT label, count(*) AS n FROM embeddings
                     GROUP BY label),
            centroid AS (
              SELECT label, list(s / n ORDER BY i) AS centroid
              FROM cent_sum JOIN nmem USING (label)
              GROUP BY label),
            sim AS (
              SELECT e.label,
                     list_sum([CAST(e.embedding[i] AS DOUBLE)
                               * c.centroid[i]
                               for i in range(1, len(e.embedding)+1)])
                     / (sqrt(list_sum([CAST(x AS DOUBLE) * x
                                       for x in e.embedding]))
                        * sqrt(list_sum([x * x for x in c.centroid])))
                         AS cos
              FROM embeddings e JOIN centroid c USING (label))
            SELECT label, round(avg(cos), 3) AS avg_cohesion,
                   count(*) AS n_members
            FROM sim GROUP BY label""",
        # twin of synth_payload -> codecs.decode_pnm -> band_features: a
        # solid gray-g (w x h) PPM has every band mean = g, so features
        # = [float32(g/255)] * 8; dims/g are md5-derived like the stub
        "media_decode_real": f"""
            WITH {_MEDIA_CTE},
            g AS (
              SELECT doc_id, media_ref, page,
                     60 + {_md5_byte('media_ref', 0)} % 20 AS width,
                     80 + {_md5_byte('media_ref', 1)} % 20 AS height,
                     [CAST(CAST({_md5_byte('media_ref', 2)} AS DOUBLE)
                           / 255.0 AS FLOAT) for i in range(0, 8)]
                         AS features
              FROM media)
            SELECT doc_id, media_ref, page, width, height,
                   {_digest_arr_sql('features')} AS features_digest,
                   CAST(NULL AS VARCHAR) AS error
            FROM g""",
        "embedding_near_dup": """
            WITH n AS (
              SELECT vec_id, embedding,
                     sqrt(list_sum([CAST(x AS DOUBLE) * x
                                    for x in embedding])) AS nrm
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS v1, b.vec_id AS v2,
                     list_sum([CAST(a.embedding[i] AS DOUBLE)
                               * b.embedding[i]
                               for i in range(1, len(a.embedding)+1)])
                     / (a.nrm * b.nrm) AS c
              FROM n a JOIN n b ON a.vec_id < b.vec_id)
            SELECT v1, v2, round(c, 3) + 0.0 AS cosine
            FROM pairs WHERE c >= 0.40""",
        # twin of training_ops.unigram_logprob: same corpus unigram
        # model; per-TOKEN floor(1e4*ln) int64s summed, so the verified
        # field is an order-independent integer sum on both engines
        "unigram_logprob": f"""
            WITH words AS (
              SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
            freq AS (SELECT word, count(*) AS freq FROM words
                     GROUP BY word),
            n AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM freq)
            SELECT doc_id,
                   CAST(sum(CAST(floor(ln(CAST(n_total AS DOUBLE)
                                          / freq) * 10000) AS BIGINT))
                        AS BIGINT) AS logprob_e4,
                   count(*) AS n_tokens
            FROM words JOIN freq USING (word) CROSS JOIN n
            GROUP BY doc_id""",
        # ANN quality gates: the oracle recomputes the GROUND-TRUTH side
        # (brute top-k digest / exact pair count) independently; the
        # boolean floor columns are properties only the engine can
        # measure (DuckDB cannot run LSH/IVF), pinned to their required
        # value — an engine-side recall regression fails the hash.
        "ann_recall_lsh": _ANN_RECALL_ORACLE,
        "ann_recall_ivf": _ANN_RECALL_ORACLE,
        "near_dup_lsh_quality": """
            WITH n AS (
              SELECT vec_id, embedding,
                     sqrt(list_sum([CAST(x AS DOUBLE) * x
                                    for x in embedding])) AS nrm
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS v1, b.vec_id AS v2,
                     list_sum([CAST(a.embedding[i] AS DOUBLE)
                               * b.embedding[i]
                               for i in range(1, len(a.embedding)+1)])
                     / (a.nrm * b.nrm) AS c
              FROM n a JOIN n b ON a.vec_id < b.vec_id)
            SELECT count(*) AS n_exact,
                   true AS subset_ok, true AS recall_floor_met
            FROM pairs WHERE c >= 0.40""",
        # NOTE: proofread_* (the frozen-rule pipeline) and the LSH/IVF ANN
        # internals are not DuckDB-expressible -> rows-only checks; their
        # correctness gate is the pytest oracle-parity suite
        # (tests/test_spark_parity.py, test_embedding_ops.py).
    }


# ---------------------------------------------------------------------------
# extra contract queries — LOCAL gate only.  The driver harness verifies
# at most the first 50 registered queries and the main registry holds
# exactly 50 green ones, so operators added after round 2 are verified
# here: scripts/check_contract.py runs these with the same bit-exact
# DuckDB comparison, and tests/test_entry_contract.py pins them.  The
# driver never sees these names — COVERAGE.md lists them as
# local-gate-only, claiming nothing stronger than CORRECTNESS_r*.json.


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ocr_proofreader_spark.operators import training_ops as ops
    return {
        # restored from the round-3 registry consolidation: its
        # lower/collapse-whitespace/trim normalization path is NOT
        # contained in doc_fingerprint_rolling (raw-token polynomial
        # hash), so it keeps verification here
        "doc_fingerprint": lambda s, d: ops.doc_fingerprint(
            _t(s, d, "documents")),
        "repetition_metrics": lambda s, d: ops.repetition_metrics(
            _t(s, d, "documents")),
        "token_count_bpe": lambda s, d: ops.token_count_bpe(
            _t(s, d, "documents")),
        # MERGEABLE DataSketches HLL: per-lang sketches + corpus total
        # via sketch UNION (no token rescan); tolerance-gated vs exact
        "vocab_sketch_rollup": lambda s, d: ops.vocab_sketch_rollup(
            _t(s, d, "documents")),
        # tokenizer TRAINING: learn the BPE merge table from the corpus
        # (Sennrich loop); twin replays the whole loop in chained CTEs
        "bpe_learn_merges": lambda s, d: ops.bpe_learn_merges(
            _t(s, d, "documents")),
        # Misra-Gries heavy hitters: per-partition k-counter summaries,
        # only p*k rows shuffle; the no-false-negative theorem is the
        # pinned gate (candidate set itself is partitioning-dependent)
        "heavy_hitters": lambda s, d: ops.heavy_hitters_gate(
            _t(s, d, "documents")),
        "distinct_token_sketch": lambda s, d: ops.distinct_token_sketch(
            _t(s, d, "documents")),
        "range_join": lambda s, d: _range_join(s, d),
        # round-4 relational patterns: EXISTS semi-join, outer-join
        # distribution, decorrelated subquery with exact integer compare
        "late_shipment_orders": lambda s, d: _rel(s).late_shipment_orders(
            _t(s, d, "orders"), _t(s, d, "lineitem")),
        "order_count_distribution": lambda s, d:
            _rel(s).order_count_distribution(
                _t(s, d, "customer"), _t(s, d, "orders")),
        "above_avg_balance": lambda s, d: _rel(s).above_avg_balance(
            _t(s, d, "customer")),
        "minhash_jaccard_estimate": lambda s, d:
            ops.minhash_jaccard_estimate(_t(s, d, "documents")),
        # exact distributed quantiles: histogram + running sum over the
        # distinct-value axis — no global sort, no approx sketch
        "group_quantiles": lambda s, d: _rel(s).group_quantiles_disc(
            _t(s, d, "lineitem")),
        # GROUPED_AGG pandas UDF surface: order-statistic aggregate
        # (trimmed sum) no single built-in agg expresses
        "trimmed_sum_priority": lambda s, d:
            _rel(s).trimmed_sum_by_priority(_t(s, d, "orders")),
        # reshaping surface: explicit-value-list pivot (single agg, no
        # discovery scan) and its unpivot/melt inverse
        "events_pivot": lambda s, d: _rel(s).events_pivot(
            _t(s, d, "events")),
        "events_unpivot": lambda s, d: _rel(s).events_unpivot(
            _t(s, d, "events")),
        # GK-sketch quantiles gated on the sketch's own rank guarantee
        "group_quantiles_approx": lambda s, d:
            _rel(s).group_quantiles_approx_gate(_t(s, d, "lineitem")),
        # rotated OUT of the driver 50 in round 5 (displaced by
        # simhash_near_dup, which runs the same operator at 16 bits);
        # kept because it is the only bit-exact check of the 8-bit
        # fingerprint bench.py times
        "simhash": lambda s, d: ops.simhash(_t(s, d, "documents")),
        "pii_scrub": lambda s, d: ops.pii_scrub(
            ops.synth_pii(_t(s, d, "documents"))),
        "benchmark_contamination": lambda s, d: ops.benchmark_contamination(
            _t(s, d, "documents")),
        # Bloom-filter decontamination pre-screen in relational normal
        # form (md5 bit positions): bit-exact twin incl. false positives
        "contamination_bloom": lambda s, d: ops.contamination_bloom(
            _t(s, d, "documents")),
        # NATIVE session_window + watermark sessionizer (late-data-
        # tolerant production form of sessionize_stream_closed)
        "session_window_stream": _session_window_stream,
        # custom stateful running aggregate (applyInPandasWithState);
        # the monotone-counter contract makes it equal the batch groupBy
        "user_totals_stream": lambda s, d: __import__(
            "ocr_proofreader_spark.streaming.stateful",
            fromlist=["user_totals_stream"]).user_totals_stream(
                s, os.path.join(d, "events.parquet"),
                max_files_per_trigger=1),
        # STREAM-STATIC broadcast dimension enrichment (stateless)
        "stream_static_enrich": lambda s, d: __import__(
            "ocr_proofreader_spark.streaming.windowed",
            fromlist=["stream_static_enrich"]).stream_static_enrich(
                s, os.path.join(d, "events.parquet"),
                os.path.join(d, "customer.parquet"),
                max_files_per_trigger=1),
        # date-function surface: month truncation + year extraction over
        # order dates, grouped rollup
        "orders_monthly": lambda s, d: (
            _t(s, d, "orders")
            .select(F.year("o_orderdate").cast("long").alias("yr"),
                    F.month("o_orderdate").cast("long").alias("mo"),
                    "o_totalprice")
            .groupBy("yr", "mo")
            .agg(F.count("*").alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("revenue"))),
        # MAP column surface: parse props into map<string,bigint>, then
        # map functions (element_at / map_keys) — all JVM-side
        "events_map_agg": lambda s, d: (
            _t(s, d, "events")
            .select("event_type",
                    F.from_json("props", "map<string,bigint>")
                    .alias("m"))
            # rows whose props fail to parse as a JSON object yield a
            # NULL map — drop them so the contract is corpus-
            # independent (the twin mirrors with json_valid +
            # json_type = OBJECT; ADVICE r03)
            .filter(F.col("m").isNotNull())
            .select("event_type",
                    F.element_at("m", "k").alias("kval"),
                    F.size(F.map_keys("m")).cast("long").alias("n_keys"))
            .groupBy("event_type")
            .agg(F.sum("kval").alias("sum_kval"),
                 F.max("n_keys").alias("max_keys"))),
        # Spark-4 semi-structured surfaces (operators/semistructured.py):
        # native XML functions and the VARIANT type, each twinned from
        # the RAW columns so a lossy escape/parse fails the hash
        "docs_xml_roundtrip": lambda s, d: _ss(s).docs_xml_roundtrip(
            _t(s, d, "documents")),
        "events_xml_agg": lambda s, d: _ss(s).events_xml_agg(
            _t(s, d, "events")),
        "events_variant_agg": lambda s, d: _ss(s).events_variant_agg(
            _t(s, d, "events")),
        # JSON column surface (events.props is a JSON string): JVM-side
        # path extraction + agg, no UDF
        "events_json_agg": lambda s, d: (
            _t(s, d, "events")
            .select("event_type",
                    F.get_json_object("props", "$.k").cast("long")
                    .alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("k").alias("sum_k"),
                 F.max("k").alias("max_k"))),
    }


def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_proofreader_spark.operators import relational as rel
    return rel.range_join_events(_t(spark, sf_dir, "events"))


def _rel(spark):
    from ocr_proofreader_spark.operators import relational as rel
    return rel


def _ss(spark):
    from ocr_proofreader_spark.operators import semistructured as ss
    return ss


def _stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_proofreader_spark.streaming.windowed import stream_stream_join
    return stream_stream_join(
        spark, os.path.join(sf_dir, "events.parquet"),
        max_files_per_trigger=1)


def _session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_proofreader_spark.streaming.windowed import \
        session_window_stream
    return session_window_stream(
        spark, os.path.join(sf_dir, "events.parquet"),
        max_files_per_trigger=1)


def _extra_oracles() -> dict[str, str]:
    from ocr_proofreader_spark.operators.training_ops import (
        BPE_PATTERN, PII_EMAIL, PII_PHONE, bpe_seg_count_expr)
    bpe_pat = BPE_PATTERN.replace("'", "''")
    _BPE_SEG_DUCK = bpe_seg_count_expr("duckdb")
    sim16_votes = ", ".join(
        f"sum(CASE WHEN (v >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(16))
    sim16_pack = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(16))
    pii_h = "md5(CAST(doc_id AS VARCHAR))"
    did = "CAST(doc_id AS VARCHAR)"
    return {
        # twin of extraction.pdf_image_roundtrip: the synth image is a
        # solid color whose bytes, shape, filter and channel count are
        # all md5(doc_id)-derived, and all three stream filters are
        # lossless for solid colors — so the twin recomputes the
        # decoded-pixel digest arithmetically, never touching a PDF
        "pdf_image_roundtrip": f"""
            WITH b AS (
              SELECT doc_id, text,
                     {_md5_byte(did, 0)} AS b0, {_md5_byte(did, 1)} AS b1,
                     {_md5_byte(did, 2)} AS b2, {_md5_byte(did, 3)} AS b3,
                     {_md5_byte(did, 4)} AS b4, {_md5_byte(did, 5)} AS b5,
                     CASE doc_id % 3 WHEN 0 THEN 'DCTDecode'
                          WHEN 1 THEN 'FlateDecode'
                          ELSE 'LZWDecode' END AS filt
              FROM documents),
            g AS (
              SELECT doc_id, text, filt,
                     CAST(8 + b1 % 9 AS INTEGER) AS img_w,
                     CAST(8 + b2 % 9 AS INTEGER) AS img_h,
                     CAST(CASE WHEN filt = 'DCTDecode' THEN 1
                          ELSE 1 + 2 * (b3 % 2) END AS INTEGER) AS img_ch,
                     CASE WHEN filt != 'DCTDecode' AND b3 % 2 = 1
                          THEN b0 || ',' || b4 || ',' || b5
                          ELSE CAST(b0 AS VARCHAR) END AS pix
              FROM b)
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL ELSE filt END
                       AS img_filter,
                   CASE WHEN text IS NULL THEN NULL ELSE img_w END
                       AS img_w,
                   CASE WHEN text IS NULL THEN NULL ELSE img_h END
                       AS img_h,
                   CASE WHEN text IS NULL THEN NULL ELSE img_ch END
                       AS img_ch,
                   CASE WHEN text IS NULL THEN NULL ELSE md5(pix) END
                       AS pix_digest,
                   md5(text) AS pdf_text_digest
            FROM g""",
        # twin of training_ops.repetition_metrics (Gopher/C4 repetition
        # signals): same 2-gram definition, integer counts throughout
        "repetition_metrics": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t,
                     string_split(text, chr(10)) AS ls
              FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest([t[i] || ' ' || t[i+1]
                             for i in range(1, len(t))]) AS gram
              FROM toks WHERE len(t) >= 2),
            gc AS (SELECT doc_id, gram, count(*) AS c FROM grams
                   GROUP BY doc_id, gram),
            ga AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
                          CAST(max(c) AS BIGINT) AS top_2gram_count
                   FROM gc GROUP BY doc_id)
            SELECT d.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(len(list_distinct(ls)) AS BIGINT)
                       AS n_distinct_lines,
                   coalesce(n_2grams, 0) AS n_2grams,
                   coalesce(top_2gram_count, 0) AS top_2gram_count
            FROM toks d LEFT JOIN ga USING (doc_id)""",
        # twin of training_ops.token_count_bpe: the lookahead-free BPE
        # pre-tokenizer subset parses identically under Java regex and
        # RE2 (both count non-overlapping matches left-to-right)
        "token_count_bpe": f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{bpe_pat}'))
                        AS BIGINT) AS n_bpe_tokens
            FROM documents""",
        # twin of training_ops.token_count_bpe_merged: the SAME greedy
        # rank-ordered merge algorithm, emitted for DuckDB's dialect by
        # the same expression builder (separator-wrapped chars, one
        # left-to-right replace per merge)
        "token_count_bpe_merged": f"""
            SELECT doc_id,
                   CAST(coalesce(list_sum(
                       [{_BPE_SEG_DUCK} for s in
                        regexp_extract_all(text, '{bpe_pat}')]), 0)
                        AS BIGINT) AS n_bpe_merged
            FROM documents""",
        "doc_fingerprint": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                       AS fingerprint
            FROM documents""",
        # gate twin of training_ops.distinct_token_sketch: ground truth
        # (exact vocabulary size) recomputed independently; the pinned
        # boolean fails the hash if the HLL sketch drifts past tolerance
        "distinct_token_sketch": f"""
            SELECT CAST(count(DISTINCT word) AS BIGINT) AS n_exact,
                   true AS within_tol
            FROM (SELECT unnest({_TOKS}) AS word FROM documents)""",
        # gate twin of training_ops.heavy_hitters_gate: the exact heavy
        # set (freq * k > N) recomputed; membership booleans pinned
        # true by the Misra-Gries theorem — a sketch false negative
        # fails the hash
        "heavy_hitters": f"""
            WITH w AS (SELECT unnest({_TOKS}) AS word FROM documents),
            e AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
            n AS (SELECT count(*) AS n_tokens FROM w)
            SELECT word, CAST(freq AS BIGINT) AS freq,
                   true AS found_by_sketch
            FROM e, n WHERE freq * 64 > n_tokens""",
        # twin of training_ops.bpe_learn_merges: the full learning loop
        # in SQL — each round's argmax feeds the next round's replace
        "bpe_learn_merges": __import__(
            "ocr_proofreader_spark.operators.training_ops",
            fromlist=["bpe_learn_merges_sql"]).bpe_learn_merges_sql(),
        # gate twin of training_ops.vocab_sketch_rollup: exact distinct
        # per lang + corpus; the pinned booleans fail the hash if any
        # HLL estimate (incl. the UNIONED corpus sketch) drifts
        "vocab_sketch_rollup": f"""
            WITH w AS (SELECT lang, unnest({_TOKS}) AS word
                       FROM documents)
            SELECT lang, CAST(count(DISTINCT word) AS BIGINT) AS n_exact,
                   true AS within_tol
            FROM w GROUP BY lang
            UNION ALL
            SELECT '__all__', CAST(count(DISTINCT word) AS BIGINT),
                   true
            FROM w""",
        # twin of streaming.windowed.stream_stream_join: over a finite
        # AvailableNow input the watermarked INNER interval join emits
        # exactly the matched pairs (watermarks bound STATE, not
        # results), so the contract is a plain interval self-join
        "stream_stream_join": """
            SELECT e1.user_id,
                   CAST(floor(epoch(e1.ts)) AS BIGINT) AS click_epoch,
                   CAST(floor(epoch(e2.ts)) AS BIGINT) AS purchase_epoch,
                   CAST(floor(epoch(e2.ts)) - floor(epoch(e1.ts))
                        AS BIGINT) AS lag_sec
            FROM events e1 JOIN events e2
              ON e1.user_id = e2.user_id
             AND e1.event_type = 'click'
             AND e2.event_type = 'purchase'
             AND e2.ts >= e1.ts
             AND e2.ts <= e1.ts + INTERVAL 30 MINUTE""",
        # twin of relational.group_quantiles_disc: the SAME explicit
        # quantile definition (smallest value whose cumulative count
        # reaches ceil(p*n/100), integer thresholds) over DuckDB's own
        # window/agg machinery — native quantile_disc uses a different
        # rank rule (floor((n-1)p)) and is deliberately not used
        "group_quantiles": """
            WITH hist AS (
              SELECT l_returnflag AS flag,
                     CAST(floor(l_extendedprice * 100) AS BIGINT)
                         AS cents,
                     count(*) AS c
              FROM lineitem GROUP BY 1, 2),
            cum AS (
              SELECT flag, cents, c,
                     sum(c) OVER (PARTITION BY flag ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS cum
              FROM hist),
            n AS (SELECT flag, CAST(sum(c) AS BIGINT) AS n FROM hist
                  GROUP BY flag)
            SELECT flag, CAST(p AS BIGINT) AS p,
                   CAST(min(cents) AS BIGINT) AS q_cents
            FROM cum JOIN n USING (flag)
            CROSS JOIN (SELECT unnest([25, 50, 75, 95]) AS p) ps
            WHERE cum >= (n * p + 99) // 100
            GROUP BY flag, p""",
        # twins of the reshaping surface: the pivot respelled as
        # portable CASE sums; the unpivot as its long-form UNION
        "events_pivot": """
            SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
                   CAST(sum(CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'view'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup'
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_signup
            FROM events GROUP BY 1""",
        "events_unpivot": """
            SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
                   event_type, CAST(count(*) AS BIGINT) AS n
            FROM events
            WHERE event_type IN ('click', 'view', 'purchase', 'signup')
            GROUP BY 1, 2""",
        # twin of relational.trimmed_sum_by_priority (GROUPED_AGG
        # pandas UDF): sorted-list slice, exact integer sum
        "trimmed_sum_priority": """
            WITH c AS (SELECT o_orderpriority AS priority,
                              CAST(floor(o_totalprice * 100) AS BIGINT)
                                  AS cents
                       FROM orders),
            g AS (SELECT priority, count(*) AS n,
                         list_sort(list(cents)) AS xs
                  FROM c GROUP BY priority)
            SELECT priority, CAST(n AS BIGINT) AS n_orders,
                   CAST(list_sum(
                       xs[(n * 10 // 100) + 1 : n - (n * 10 // 100)])
                        AS BIGINT) AS trimmed_sum_cents
            FROM g""",
        # gate twin of relational.group_quantiles_approx_gate: exact
        # quantiles recomputed, rank-guarantee booleans pinned — a GK
        # sketch drifting past n/accuracy fails the hash
        "group_quantiles_approx": """
            WITH hist AS (
              SELECT l_returnflag AS flag,
                     CAST(floor(l_extendedprice * 100) AS BIGINT)
                         AS cents,
                     count(*) AS c
              FROM lineitem GROUP BY 1, 2),
            cum AS (
              SELECT flag, cents, c,
                     sum(c) OVER (PARTITION BY flag ORDER BY cents
                                  ROWS UNBOUNDED PRECEDING) AS cum
              FROM hist),
            n AS (SELECT flag, CAST(sum(c) AS BIGINT) AS n FROM hist
                  GROUP BY flag)
            SELECT flag, CAST(p AS BIGINT) AS p,
                   CAST(min(cents) AS BIGINT) AS q_cents,
                   true AS rank_within_guarantee
            FROM cum JOIN n USING (flag)
            CROSS JOIN (SELECT unnest([25, 50, 75, 95]) AS p) ps
            WHERE cum >= (n * p + 99) // 100
            GROUP BY flag, p""",
        # twins of the round-4 relational patterns
        "late_shipment_orders": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate)
            GROUP BY o_orderpriority""",
        "order_count_distribution": """
            SELECT c_count, count(*) AS n_customers
            FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
                  FROM customer c LEFT JOIN orders o
                    ON c.c_custkey = o.o_custkey
                  GROUP BY c.c_custkey)
            GROUP BY c_count""",
        # exact integer cross-multiplication replaces the double
        # average so the above-mean predicate cannot flip on ulps
        "above_avg_balance": """
            WITH cents AS (
              SELECT c_custkey, c_nationkey,
                     CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
              FROM customer),
            pn AS (SELECT c_nationkey, CAST(sum(cents) AS BIGINT)
                              AS sum_cents,
                          count(*) AS n
                   FROM cents GROUP BY c_nationkey)
            SELECT c.c_nationkey, count(*) AS n_above,
                   CAST(max(c.cents) AS BIGINT) AS max_cents
            FROM cents c JOIN pn USING (c_nationkey)
            WHERE c.cents * n > sum_cents
            GROUP BY c.c_nationkey""",
        # twin of stream_stream_join_outer: matched pairs plus
        # unmatched clicks whose match window closed under the FINAL
        # GLOBAL watermark — which is min(max left ts, max right ts) -
        # delay (Spark's default min-across-inputs watermark policy;
        # empirically pinned: max-across-inputs over-emits by one row
        # on this corpus).  Unmatched clicks past the line never emit.
        "stream_stream_join_outer": """
            WITH wm AS (
              SELECT least(
                       max(CASE WHEN event_type = 'click'
                                THEN ts END),
                       max(CASE WHEN event_type = 'purchase'
                                THEN ts END))
                     - INTERVAL 30 MINUTE AS w
              FROM events),
            clicks AS (SELECT user_id, ts FROM events
                       WHERE event_type = 'click'),
            pairs AS (
              SELECT c.user_id, c.ts AS t1, p.ts AS t2
              FROM clicks c JOIN events p
                ON p.event_type = 'purchase'
               AND p.user_id = c.user_id
               AND p.ts >= c.ts
               AND p.ts <= c.ts + INTERVAL 30 MINUTE),
            unmatched AS (
              SELECT c.user_id, c.ts AS t1
              FROM clicks c ANTI JOIN pairs m
                ON c.user_id = m.user_id AND c.ts = m.t1)
            SELECT user_id,
                   CAST(floor(epoch(t1)) AS BIGINT) AS click_epoch,
                   CAST(floor(epoch(t2)) AS BIGINT) AS purchase_epoch,
                   CAST(floor(epoch(t2)) - floor(epoch(t1))
                        AS BIGINT) AS lag_sec
            FROM pairs
            UNION ALL
            SELECT u.user_id,
                   CAST(floor(epoch(u.t1)) AS BIGINT),
                   CAST(NULL AS BIGINT),
                   CAST(NULL AS BIGINT)
            FROM unmatched u, wm
            WHERE u.t1 + INTERVAL 30 MINUTE < wm.w""",
        # twin of stateful.user_totals_stream: the monotone-
        # counter emission rule means the max_by-selected final row per
        # user equals the plain batch rollup whatever the micro-batch
        # slicing; total_value rounded after selection on both sides
        "user_totals_stream": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 3) AS total_value,
                   CAST(floor(epoch(max(ts))) AS BIGINT) AS max_epoch
            FROM events GROUP BY user_id""",
        # twin of streaming.windowed.stream_static_enrich: the
        # stateless per-batch dimension join equals the batch join
        "stream_static_enrich": """
            SELECT e.event_id, e.user_id,
                   CAST(c.c_nationkey AS BIGINT) AS nation,
                   e.event_type,
                   CAST(floor(e.value * 100) AS BIGINT) AS value_cents
            FROM events e JOIN customer c ON e.user_id = c.c_custkey""",
        # twin of training_ops.stratified_sample: same md5-bucket
        # membership rule (the bucket_assignment hash family) with the
        # default per-10000 language rates
        "stratified_sample": """
            SELECT doc_id, lang,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 15) AS BIGINT) % 10000
                        AS BIGINT) AS sample_bucket,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 15) AS BIGINT) % 10000
                        AS BIGINT)
                   < CASE lang WHEN 'en' THEN 8000
                               WHEN 'fr' THEN 5000
                               ELSE 3000 END AS kept
            FROM documents""",
        # twin of training_ops.simhash_near_dup: the plain QUADRATIC
        # hamming join — a different plan whose agreement certifies the
        # engine's lossless-banding argument, not just the arithmetic
        "simhash_near_dup": f"""
            WITH words AS (SELECT doc_id, unnest({_TOKS}) AS word
                           FROM documents),
            vals AS (SELECT doc_id,
                            CAST(('0x' || substr(md5(word), 1, 4))
                                 AS BIGINT) AS v
                     FROM words),
            votes AS (SELECT doc_id, {sim16_votes} FROM vals
                      GROUP BY doc_id),
            sh AS (SELECT doc_id, CAST({sim16_pack} AS BIGINT) AS simhash
                   FROM votes)
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                       AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 2""",
        # twin of training_ops.quality_filter: same integer-only
        # thresholds recomposed from the quality/repetition twin CTEs
        "quality_filter": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS} AS t,
                     string_split(text, chr(10)) AS ls, text
              FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest([t[i] || ' ' || t[i+1]
                             for i in range(1, len(t))]) AS gram
              FROM toks WHERE len(t) >= 2),
            gc AS (SELECT doc_id, gram, count(*) AS c FROM grams
                   GROUP BY doc_id, gram),
            ga AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
                          CAST(max(c) AS BIGINT) AS top
                   FROM gc GROUP BY doc_id),
            m AS (
              SELECT d.doc_id,
                     CAST(len(t) AS BIGINT) AS n_tokens,
                     CAST(length(text) AS BIGINT) AS n_chars,
                     CAST(len(ls) AS BIGINT) AS n_lines,
                     CAST(len(list_distinct(ls)) AS BIGINT) AS n_distinct,
                     coalesce(n_2grams, 0) AS n_2grams,
                     coalesce(top, 0) AS top
              FROM toks d LEFT JOIN ga USING (doc_id)),
            f AS (
              SELECT doc_id,
                     n_tokens < 50 AS too_short,
                     (n_chars < 3 * n_tokens
                      OR n_chars > 12 * n_tokens) AS token_shape,
                     10 * n_distinct < 7 * n_lines AS dup_lines,
                     (n_2grams > 0 AND 100 * top > 18 * n_2grams)
                         AS rep_2gram
              FROM m)
            SELECT doc_id,
                   NOT (too_short OR token_shape OR dup_lines
                        OR rep_2gram) AS accept,
                   coalesce(array_to_string(list_sort(
                       [x for x in
                        [CASE WHEN too_short THEN 'too_short' END,
                         CASE WHEN token_shape THEN 'token_shape' END,
                         CASE WHEN dup_lines THEN 'dup_lines' END,
                         CASE WHEN rep_2gram THEN 'rep_2gram' END]
                        if x IS NOT NULL]), ','), '') AS reasons
            FROM f""",
        # twin of pii_scrub(synth_pii(...)): recomputes the injection
        # AND the scrub (patterns are lookaround-free, so RE2 and
        # java.util.regex match the same spans)
        "pii_scrub": f"""
            WITH injected AS (
              SELECT doc_id,
                     CASE CAST(('0x' || substr({pii_h}, 1, 2))
                               AS INTEGER) % 3
                       WHEN 0 THEN text || ' contact: user'
                            || substr({pii_h}, 3, 4) || '@example.com'
                       WHEN 1 THEN text || ' call 555-'
                            || translate(substr({pii_h}, 3, 3),
                                         'abcdef', '012345')
                            || '-'
                            || translate(substr({pii_h}, 6, 4),
                                         'abcdef', '012345')
                       ELSE text END AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{PII_EMAIL}'))
                        AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '{PII_PHONE}'))
                        AS BIGINT) AS n_phones,
                   md5(regexp_replace(
                       regexp_replace(text, '{PII_EMAIL}', '[EMAIL]',
                                      'g'),
                       '{PII_PHONE}', '[PHONE]', 'g'))
                       AS scrubbed_digest
            FROM injected""",
        # twin of benchmark_contamination: same 8-gram containment via
        # an IN-subquery instead of the engine's broadcast semi-join
        "benchmark_contamination": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_distinct(
                         [array_to_string(t[i:i+7], ' ')
                          for i in range(1, len(t) - 6)])) AS gram
              FROM toks WHERE len(t) >= 8),
            bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 5),
            hits AS (
              SELECT doc_id, count(*) AS n_hits
              FROM grams
              WHERE doc_id >= 5 AND gram IN (SELECT gram FROM bench)
              GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(n_hits, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
            LEFT JOIN hits USING (doc_id)""",
        # twin of training_ops.contamination_bloom: the same md5-derived
        # bit positions, set-bit table and all-k-hashes-set probe — the
        # bloom math itself is engine-portable, so even the FALSE
        # POSITIVES must agree bit-for-bit
        "contamination_bloom": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_distinct(
                         [array_to_string(t[i:i+7], ' ')
                          for i in range(1, len(t) - 6)])) AS gram
              FROM toks WHERE len(t) >= 8),
            bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 5),
            bits AS (
              SELECT DISTINCT unnest([
                  CAST(('0x' || substr(md5(gram || '|' ||
                        CAST(j AS VARCHAR)), 1, 15)) AS BIGINT)
                      % 1048576
                  for j in range(0, 7)]) AS pos
              FROM bench),
            corpus AS (SELECT * FROM grams WHERE doc_id >= 5),
            probe AS (
              SELECT doc_id, gram,
                     unnest([
                         CAST(('0x' || substr(md5(gram || '|' ||
                               CAST(j AS VARCHAR)), 1, 15)) AS BIGINT)
                             % 1048576
                         for j in range(0, 7)]) AS pos
              FROM corpus),
            bp AS (
              SELECT doc_id, gram
              FROM probe
              WHERE pos IN (SELECT pos FROM bits)
              GROUP BY doc_id, gram HAVING count(*) = 7),
            nb AS (SELECT doc_id, count(*) AS n_bloom FROM bp
                   GROUP BY doc_id),
            ne AS (SELECT doc_id, count(*) AS n_exact FROM corpus
                   WHERE gram IN (SELECT gram FROM bench)
                   GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(n_exact, 0) AS BIGINT) AS n_exact_hits,
                   coalesce(n_exact, 0) > 0 AS contaminated,
                   CAST(coalesce(n_bloom, 0) AS BIGINT) AS n_bloom_hits
            FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
            LEFT JOIN nb USING (doc_id)
            LEFT JOIN ne USING (doc_id)""",
        # twin of streaming.windowed.session_window_stream: append-mode
        # session_window emits a session once the watermark (max ts -
        # delay) REACHES its end (last event + gap; boundary INCLUSIVE —
        # empirically pinned: a session whose end equals the final
        # watermark is emitted) — over a finite AvailableNow input that
        # is exactly this filter on the batch sessionization rollup.
        # The operator floors timestamps to whole seconds, so the
        # floored-epoch arithmetic here matches its gap rule exactly.
        "session_window_stream": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_ts
              FROM events),
            m AS (
              SELECT *, CASE WHEN prev_ts IS NULL THEN 1
                             WHEN floor(epoch(ts)) - floor(epoch(prev_ts))
                                  > 1800 THEN 1
                             ELSE 0 END AS new_sess
              FROM g),
            s AS (
              SELECT *, CAST(sum(new_sess) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS sn
              FROM m),
            roll AS (
              SELECT user_id, sn, count(*) AS n_events,
                     CAST(min(floor(epoch(ts))) AS BIGINT) AS start_epoch,
                     CAST(max(floor(epoch(ts))) AS BIGINT) AS end_epoch,
                     round(sum(value), 3) AS total_value
              FROM s GROUP BY user_id, sn),
            mx AS (SELECT max(floor(epoch(ts))) AS m FROM events)
            SELECT user_id, start_epoch, end_epoch, n_events, total_value
            FROM roll, mx WHERE end_epoch + 1800 <= m - 1800""",
        "orders_monthly": """
            SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
                   CAST(month(o_orderdate) AS BIGINT) AS mo,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY 1, 2""",
        # twin of events_map_agg: DuckDB json functions recompute the
        # same map-derived values (json_keys ~ map_keys); the
        # json_valid + OBJECT guard mirrors the Spark side's NULL-map
        # filter so malformed props drop identically on both sides
        "events_map_agg": """
            SELECT event_type,
                   CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
                       AS sum_kval,
                   CAST(max(len(json_keys(props))) AS BIGINT) AS max_keys
            FROM events
            WHERE json_valid(props) AND json_type(props) = 'OBJECT'
            GROUP BY event_type""",
        # twins of the Spark-4 semi-structured surfaces: recomputed
        # from the RAW columns (the oracle never sees XML or VARIANT)
        "docs_xml_roundtrip": """
            SELECT doc_id, md5(text) AS xml_text_digest
            FROM documents""",
        "events_xml_agg": """
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT))
                        AS BIGINT) AS sum_value_cents,
                   CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
                       AS sum_k
            FROM events GROUP BY event_type""",
        "events_variant_agg": """
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
                       AS sum_k,
                   CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
                       AS max_k
            FROM events GROUP BY event_type""",
        "events_json_agg": """
            SELECT event_type, count(*) AS n_events,
                   CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
                       AS sum_k,
                   CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT)
                       AS max_k
            FROM events GROUP BY event_type""",
        # gate twin of training_ops.minhash_jaccard_estimate: ground
        # truth = exact pair count on the same bounded subset; the
        # pinned boolean fails the hash if the MinHash estimator's MAE
        # vs exact Jaccard drifts past tolerance
        "minhash_jaccard_estimate": f"""
            WITH docs100 AS (SELECT * FROM documents WHERE doc_id < 100),
            toks AS (SELECT doc_id, {_TOKS} AS t FROM docs100),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                           for i in range(1, len(t)-1)]))
                         AS shingle
              FROM toks WHERE len(t) >= 3)
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   true AS mae_floor_met
            FROM (SELECT a.doc_id AS d1, b.doc_id AS d2
                  FROM sh a JOIN sh b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)""",
        # twin of relational.range_join_events: the EXACT range-predicate
        # join — an independent plan (DuckDB's IEJoin handles the
        # inequality natively) vs the engine's bin-bucketized equi-join
        "range_join": """
            SELECT l.user_id, l.event_id,
                   CAST(count(r.r_epoch) AS BIGINT) AS n_views_prior_hour
            FROM (SELECT user_id, event_id, floor(epoch(ts)) AS epoch
                  FROM events WHERE event_type = 'purchase') l
            LEFT JOIN (SELECT user_id, floor(epoch(ts)) AS r_epoch
                       FROM events WHERE event_type = 'view') r
              ON l.user_id = r.user_id
                 AND r.r_epoch > l.epoch - 3600 AND r.r_epoch <= l.epoch
            GROUP BY l.user_id, l.event_id""",
    }
