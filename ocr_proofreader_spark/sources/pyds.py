"""User-defined CONNECTOR on Spark 4's Python DataSource API: the
synthetic book corpus exposed as a real ``spark.read.format(...)``
source (``synthetic_books``), not just a mapInPandas helper.

Why this exists next to ``sources/synthetic.py``: the DataSource API
is the supported way to ship a custom connector — it gives the source
a catalog-visible name, option parsing, and EXPLICIT partition
planning (``partitions()`` returns one split per doc-range, so Spark
schedules generation like any other scan, including with AQE).  The
generator seeds every doc independently (Random(seed*1000003 + i)),
so each partition produces its range with zero coordination and the
table is byte-identical for ANY partition count — pinned by the
digest test against the mapInPandas path.

Register once per session::

    spark.dataSource.register(SyntheticBooksDataSource)
    df = (spark.read.format("synthetic_books")
          .option("n_docs", 2000).option("partitions", 64).load())

Arrow note: the reader yields tuples (simplest row form); for a
throughput-critical source the same ``read`` may yield pyarrow record
batches instead — generation cost dominates here, so tuples keep it
simple.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition,
                                    SimpleDataSourceStreamReader)
from pyspark.sql.types import StructType

from ocr_proofreader_spark.schemas import DOCUMENTS_IN


class _Range(InputPartition):
    def __init__(self, start: int, end: int, seed: int):
        self.start, self.end, self.seed = start, end, seed


class SyntheticBooksReader(DataSourceReader):
    def __init__(self, options):
        self.n_docs = int(options.get("n_docs", "200"))
        self.seed = int(options.get("seed", "42"))
        self.n_parts = int(options.get("partitions", "32"))
        # fail at option-parse time with a usable message, not at
        # planning time with range()'s step-must-not-be-zero (ADVICE
        # r5: n_docs=0 made per=0); n_docs=0 is a valid empty scan
        if self.n_docs < 0:
            raise ValueError(f"n_docs must be >= 0, got {self.n_docs}")
        if self.n_parts <= 0:
            raise ValueError(
                f"partitions must be > 0, got {self.n_parts}")

    def partitions(self):
        if self.n_docs == 0:
            # one empty split: PySpark turns an empty list into [None],
            # which read() cannot take
            return [_Range(0, 0, self.seed)]
        per = -(-self.n_docs // self.n_parts)        # ceil split
        return [_Range(lo, min(lo + per, self.n_docs), self.seed)
                for lo in range(0, self.n_docs, per)]

    def read(self, part: _Range) -> Iterator[tuple]:
        from fixtures.gen import CorpusGenerator
        gen = CorpusGenerator(seed=part.seed)
        for i in range(part.start, part.end):
            doc_id, spans, _ = gen.gen_doc(i)
            yield (doc_id,
                   [(s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in spans])


class SyntheticBooksDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_books"

    def schema(self) -> StructType:
        return DOCUMENTS_IN

    def reader(self, schema: StructType) -> SyntheticBooksReader:
        return SyntheticBooksReader(self.options)


# ---------------------------------------------------------------------------
# streaming sibling: a custom Python STREAMING source (Spark 4
# SimpleDataSourceStreamReader).  Offsets are plain doc counters, so
# the stream is deterministic and resumable: restarting from a
# checkpointed offset re-emits exactly the remaining docs — the
# exactly-once property the engine's other streams get from the file
# source, here provided by a user-defined connector.

class SyntheticBooksStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.n_docs = int(options.get("n_docs", "200"))
        self.seed = int(options.get("seed", "42"))
        self.batch = int(options.get("batch_docs", "50"))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        from fixtures.gen import CorpusGenerator
        lo = start["next"]
        hi = min(lo + self.batch, self.n_docs)
        gen = CorpusGenerator(seed=self.seed)
        rows = []
        for i in range(lo, hi):
            doc_id, spans, _ = gen.gen_doc(i)
            rows.append((doc_id,
                         [(s["kind"], s["text"], s["media_ref"],
                           s["offset"]) for s in spans]))
        return iter(rows), {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay for recovery: same rows for same range
        saved = self.batch
        self.batch = end["next"] - start["next"]
        try:
            it, _ = self.read(start)
        finally:
            self.batch = saved
        return it


class SyntheticBooksStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_books_stream"

    def schema(self) -> StructType:
        return DOCUMENTS_IN

    def simpleStreamReader(self, schema: StructType):
        return SyntheticBooksStreamReader(self.options)
