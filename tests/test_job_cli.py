"""EP1 CLI surface: proofread_job.main() end-to-end in-process, including
the repeatable --lexicon LANG=PATH flag (multilingual runs), the derived
tables and the JSON result line on stdout."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCHEMA = ("doc_id string, lang string, spans array<struct<"
          "kind:string,text:string,media_ref:string,offset:int>>")


def test_job_cli_multilingual(spark, tmp_path, capsys):
    from ocr_proofreader_spark.jobs import proofread_job

    rows = [("fr-1", "fr",
             [("text", "le probléme du jour", None, 0)]),
            ("en-1", "en",
             [("text", "the housa was fine", None, 0)])]
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    spark.createDataFrame(rows, SCHEMA).write.parquet(inp)

    argv = ["--input", inp, "--output", out, "--num-buckets", "2",
            "--lexicon", f"default={ROOT}/fixtures/lexicon_base.txt",
            "--lexicon", f"fr={ROOT}/fixtures/lexicon_fr.txt"]
    proofread_job.main(argv, spark=spark)

    got = {r["doc_id"]: " ".join(s["text"] for s in r["spans"])
           for r in spark.read.parquet(os.path.join(out, "data")).collect()}
    assert "problème" in got["fr-1"]      # corrected under the fr lexicon
    assert "house" in got["en-1"]         # corrected under the default
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 2 and rep["docs_per_sec"] > 0
    for table in ("word_freq", "lexicon"):
        assert spark.read.parquet(os.path.join(out, table)).count() > 0

    # a rerun on the finished output proofreads nothing: it reports the
    # output's docs but no rate
    proofread_job.main(argv, spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 2 and rep["docs_per_sec"] == 0
