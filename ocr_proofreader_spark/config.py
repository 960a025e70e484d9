"""Run configuration for the proofreading engine."""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class RunConfig:
    """Knobs for one proofreading run (SURVEY.md sections 3-4).

    Scale notes (100 TB / 10^12 docs): the hot path is shuffle-free
    (mapInPandas per doc); ``rebalance_partitions`` only adds a hash
    repartition on doc_id when the input scan is narrower than the
    session parallelism; docs longer than ``chunk_threshold_spans`` take
    the chunked skew path (distributed word_freq, then chunk-parallel
    correction: each book sliced into ``spark.sql.shuffle.partitions``
    chunk rows, spread by a round-robin ``repartition(n)``) instead of a
    single task.
    """

    run_id: str = "run-0"
    lexicon_path: str = field(default_factory=lambda: os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures", "lexicon_base.txt"))
    rebalance_partitions: int | None = None  # None -> leave input partitioning
    # Docs above this take the skew path.  Measured on local[32]: a
    # 2000-span book (~1 MB text) is cheaper inline in the shuffle-free
    # fast path (~170 ms) than amortizing the skew path's two shuffles;
    # the chunked path pays off for genuinely giant books (>~2 MB text),
    # which is what it exists for at 10^12-doc scale.  None = the caller
    # guarantees no doc can reach any threshold (bounded derivations):
    # proofread() then skips the skew branch entirely instead of paying
    # its second input pass for a provably-empty union arm (r6).
    chunk_threshold_spans: int | None = 4096
    num_buckets: int = 16               # resumability unit (S2/S16)
