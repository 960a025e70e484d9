"""Spark-4 semi-structured surfaces: native XML functions and the
VARIANT type (operators/semistructured.py)."""

import hashlib

from pyspark.sql import functions as F

from ocr_proofreader_spark.operators import semistructured as ss
import plan_shapes as P


def test_xml_roundtrip_escaping_cases(spark):
    """to_xml/from_xml must round-trip entity characters, quotes,
    multi-line text and non-ASCII bit-exactly; NULL text propagates."""
    texts = [
        "plain words",
        "a & b < c > d \"quoted\" 'single'",
        "line one\nline two\nline three",
        "café über — 中文",
        "",
        None,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["xml_text_digest"]
           for r in ss.docs_xml_roundtrip(docs).collect()}
    for i, t in enumerate(texts):
        exp = (None if t is None
               else hashlib.md5(t.encode()).hexdigest())
        assert got[i] == exp, (i, t)


def test_xml_and_variant_aggs_match_raw(spark):
    """Both structured rollups equal the same rollup computed straight
    from the raw columns — the XML/VARIANT layers add nothing and lose
    nothing; plans stay UDF-free with partial aggregates."""
    rows = [
        (1, "click", 1.25, '{"k": 3}'),
        (2, "click", 2.50, '{"k": 7, "x": 1}'),
        (3, "view", 0.99, '{"nope": 1}'),      # no $.k -> NULL
        (4, "view", 10.00, '{"k": 2}'),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, event_type string, value double, "
              "props string")
    raw = {r["event_type"]: r for r in (
        events.groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.floor(F.col("value") * 100).cast("long")).alias("v"),
             F.sum(F.get_json_object("props", "$.k").cast("long"))
             .alias("k")).collect())}

    xml = {r["event_type"]: r for r in ss.events_xml_agg(events).collect()}
    assert set(xml) == set(raw)
    for et, r in xml.items():
        assert (r["n_events"], r["sum_value_cents"], r["sum_k"]) == \
            (raw[et]["n"], raw[et]["v"], raw[et]["k"]), et

    var = {r["event_type"]: r
           for r in ss.events_variant_agg(events).collect()}
    for et, r in var.items():
        assert (r["n_events"], r["sum_k"]) == (raw[et]["n"],
                                               raw[et]["k"]), et
    assert var["view"]["max_k"] == 2

    for df in (ss.events_xml_agg(events), ss.events_variant_agg(events),
               ss.docs_xml_roundtrip(
                   events.selectExpr("event_id AS doc_id",
                                     "props AS text"))):
        plan = P.physical_plan(df)
        assert "BatchEvalPython" not in plan      # no row-wise UDFs
        assert "ArrowEvalPython" not in plan
    assert P.has_partial_aggregate(ss.events_xml_agg(events))
    assert P.has_partial_aggregate(ss.events_variant_agg(events))
