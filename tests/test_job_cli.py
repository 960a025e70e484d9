"""EP1 CLI surface: proofread_job.main() end-to-end in-process, including
the repeatable --lexicon LANG=PATH flag (multilingual runs), the derived
tables and the JSON result line on stdout."""

import json
import os
import sys
import threading

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


# -- the derived lane -----------------------------------------------------------

LANE_ROWS = [("b-1", "en",
              [("text", "the quikk fox " * 6, None, 0),
               ("image", None, "img/1.png", 1)]),
             ("b-2", "en",
              [("text", "the housa was fine zorbl zorbl zorbl", None, 0)])]


def _lane_input(spark, tmp_path) -> str:
    inp = str(tmp_path / "docs")
    spark.createDataFrame(LANE_ROWS, SCHEMA).write.parquet(inp)
    return inp


def _lane_argv(inp: str, out: str) -> list[str]:
    return ["--input", inp, "--output", out, "--num-buckets", "2",
            "--lexicon", f"default={ROOT}/fixtures/lexicon_base.txt"]


def _committed(out: str) -> set[int]:
    from ocr_proofreader_spark.config import RunConfig
    from ocr_proofreader_spark.operators.resume import ResumableRunner
    return set(ResumableRunner(spark=None, out_root=out, lex_bc=None,
                               cfg=RunConfig(num_buckets=2)).committed())


def _broken_run(self, docs):
    raise RuntimeError("run broke")


def test_derived_tables_match_serial(spark, tmp_path, capsys):
    """The tables the job writes beside the run are the ones the derived
    operators compute on their own."""
    from ocr_proofreader_spark.jobs import proofread_job
    from ocr_proofreader_spark.lexicon import load_base_lexicon
    from ocr_proofreader_spark.operators.word_freq import (lexicon_table,
                                                           word_freq)

    inp, out = _lane_input(spark, tmp_path), str(tmp_path / "out")
    proofread_job.main(_lane_argv(inp, out), spark=spark)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["docs"] == 2 and rep["derived_sec"] > 0

    docs = spark.read.parquet(inp)
    wf = word_freq(docs)
    base = load_base_lexicon(f"{ROOT}/fixtures/lexicon_base.txt")
    for table, want in (("word_freq", wf),
                        ("lexicon", lexicon_table(spark, base, wf))):
        got = spark.read.parquet(os.path.join(out, table))
        rows = sorted(got.select(*want.columns).collect())
        assert rows == sorted(want.collect()), table
    frequent = spark.read.parquet(os.path.join(out, "lexicon")).filter(
        "source = 'book_frequent'").collect()
    assert [r["word"] for r in frequent] == ["quikk"]


def test_derived_lane_failure(spark, tmp_path, capsys, monkeypatch):
    """A derived-lane error surfaces from main once the run has committed
    every bucket; when the run fails too, the run's error wins."""
    from ocr_proofreader_spark.jobs import proofread_job
    from ocr_proofreader_spark.operators.resume import ResumableRunner

    def broken_lexicon(*args):
        raise ValueError("derived lane broke")
    monkeypatch.setattr(proofread_job, "lexicon_table", broken_lexicon)
    inp = _lane_input(spark, tmp_path)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="derived lane broke"):
        proofread_job.main(_lane_argv(inp, out), spark=spark)
    assert _committed(out) == {0, 1}
    assert capsys.readouterr().out == ""  # no result line

    monkeypatch.setattr(ResumableRunner, "run", _broken_run)
    with pytest.raises(RuntimeError, match="run broke"):
        proofread_job.main(_lane_argv(inp, str(tmp_path / "out2")),
                           spark=spark)


def test_runner_failure_joins_lane(spark, tmp_path, capsys, monkeypatch):
    """A run that fails at once still raises only after the derived lane
    has written both tables, and leaves no thread of main's running."""
    from ocr_proofreader_spark.jobs import proofread_job
    from ocr_proofreader_spark.operators.resume import ResumableRunner

    monkeypatch.setattr(ResumableRunner, "run", _broken_run)
    inp = _lane_input(spark, tmp_path)
    out = str(tmp_path / "out")
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="run broke"):
        proofread_job.main(_lane_argv(inp, out), spark=spark)
    assert set(threading.enumerate()) <= before
    for table in ("word_freq", "lexicon"):
        assert os.path.exists(os.path.join(out, table, "_SUCCESS"))
    assert _committed(out) == set()
    assert capsys.readouterr().out == ""
