"""Source adapters producing the engine's interleaved-span documents table
(BASELINE.json:15 input_hint shape).

``interleaved_from_flat`` derives a deterministic span corpus from the
driver-provided flat ``documents.parquet`` (doc_id:int64, text, lang,
source, n_chars) so the flagship pipeline can run at any driver scale
factor without external data.  Pages of ~40 words wrapped at 60 columns;
every 4th page is preceded by a media span; every 7th doc opens with a
chapter heading.  Pure function of (doc_id, text) — stable across runs and
parallelism levels."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ocr_proofreader_spark.schemas import DOCUMENTS_IN

PAGE_WORDS = 40
WRAP_COLS = 60


def _wrap(words: list[str]) -> str:
    lines, cur = [], ""
    for w in words:
        if not cur:
            cur = w
        elif len(cur) + 1 + len(w) <= WRAP_COLS:
            cur += " " + w
        else:
            lines.append(cur)
            cur = w
    if cur:
        lines.append(cur)
    return "\n".join(lines)


def _doc_to_spans(doc_id: int, text: str) -> list[dict]:
    words = [w for w in (text or "").split(" ") if w]
    spans: list[dict] = []
    sid = f"doc-{doc_id:08d}"
    offset = 0
    page = 0
    for start in range(0, max(len(words), 1), PAGE_WORDS):
        if (doc_id + page) % 4 == 0:
            spans.append({"kind": "media", "text": "",
                          "media_ref": f"scan/{sid}/p{page:04d}.png",
                          "offset": offset})
            offset += 1
        body = _wrap(words[start:start + PAGE_WORDS])
        if page == 0 and doc_id % 7 == 0:
            body = "CHAPTER I\n\n" + body
        spans.append({"kind": "text", "text": body + "\n",
                      "media_ref": "", "offset": offset})
        offset += 1
        page += 1
    return spans


def interleaved_from_flat(flat_docs: DataFrame) -> DataFrame:
    """flat documents(doc_id:int64, text, ...) -> (doc_id:string, spans).

    The input is spread to the session parallelism first (guide section
    2.5): the driver's flat table arrives as ONE parquet file, so
    without it this Python derivation — and every proofread/media pass
    stacked on it — runs as a single task.  The shuffle moves only the
    narrow (doc_id, text) projection and disappears at any scale where
    the scan already has enough splits."""
    from ocr_proofreader_spark.partitioning import spread_input

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": [f"doc-{d:08d}" for d in pdf["doc_id"]],
                "spans": [_doc_to_spans(int(d), t)
                          for d, t in zip(pdf["doc_id"], pdf["text"])],
            })
    narrow = spread_input(flat_docs.select("doc_id", "text"), "doc_id")
    return narrow.mapInPandas(fn, DOCUMENTS_IN)
