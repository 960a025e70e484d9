"""S2/S15/S16: checkpointed resumability with per-partition lineage.

Unit of replay = a deterministic hash bucket of doc_id (stable across runs
and cluster sizes).  Unit of execution = a *wave*: the pending buckets, in
ascending order, split into at most ``ceil(sqrt(num_buckets))`` groups (see
the cost model below).  Per wave:

1. proofread the wave's docs in one pass (full cluster parallelism),
2. write it once with ``partitionBy("bucket")`` to
   ``<out>/_tmp/<run_id>/wave-<k>``; one ``Observation`` carries each
   bucket's doc/span/correction/flag counts, so no metric column reaches
   the output,
3. then, bucket by bucket: atomic rename of ``bucket=<b>`` to
   ``<out>/data/bucket=<b>``, then the bucket's lineage row, renamed into
   ``<out>/lineage/``.

The lineage row is the commit record: a bucket is committed when it has a
row and its data directory (``committed()``).  The row goes in only after
the data rename, so a killed job leaves every bucket either committed or
without a row:

- killed before the data rename: no row;
- killed between the data rename and the row: no row, and the replay's
  commit replaces the data directory;
- killed after the row: committed, and never run again, so every row
  this engine writes has ``attempt`` 1.

On restart with the same output root only buckets without a row replay
(exactly-once at bucket level — the rules are deterministic, so a replay
is byte-identical), and the dead run's uncommitted wave output under
``_tmp/`` is deleted before the first wave.  On Iceberg the same protocol
rides on snapshot commits instead of directory renames (SURVEY.md section
3.3); the job writes plain parquet, so the local-FS rename here is the
commit.

Roots written while a ``_markers/<b>.done`` file followed each row still
resume: the markers are ignored.  Such a root can hold a second row for a
bucket (a replay after a crash between row and marker) with the same
``doc_count``, and a bucket whose row has no data directory (a replay
that died between the commit's ``rmtree`` and its rename), which counts
as pending.

Cost model, B buckets in N waves: a run scans the input N times (the wave
filter ``_bucket IN (...)`` is md5 of doc_id, so it prunes nothing unless
the input is stored bucketed by the same hash: each wave decodes the whole
input) and a crash loses at most one wave's work, ``1 / N`` of the run.
N is sized from the input: one *round of splits* is what the cluster reads
at once, ``defaultParallelism * spark.sql.files.maxPartitionBytes`` bytes,
and ``N = clamp(ceil(input_bytes / round), 1, ceil(sqrt(B)))`` with
``input_bytes`` the optimized plan's ``sizeInBytes`` (for a file scan, the
listed files' total size).  A crash therefore loses at most the larger of
1/sqrt(B) of the run and one round of splits.  An input smaller than one
round runs every pending bucket in one wave and scans once; a large input
keeps sqrt(B) scans and the 1/sqrt(B) loss bound, where ``N = 1`` would
lose the whole run and ``N = B`` would scan B times.  An input Spark
cannot size (``sizeInBytes`` unknown, reported as ``Long.MaxValue``)
also gets sqrt(B) waves.

Lineage rows are written from the driver with pyarrow, one small parquet
file per committed bucket under a hidden name renamed into place — no
Spark job per row.  Like the data renames this assumes a local (or
POSIX-mounted) output root.

The resume filter (SURVEY.md S2) is the lineage: ``committed()`` maps
each committed bucket to its doc count, and each wave's ``_bucket IN
(...)`` filter keeps only docs of the other buckets."""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ocr_proofreader_spark.config import RunConfig
from ocr_proofreader_spark.operators.proofread import proofread
from ocr_proofreader_spark.schemas import LINEAGE

# per-doc metric columns of proofread(): summed per bucket into lineage,
# never written to the output
METRICS = ("span_count", "corrections", "flagged")
LINEAGE_ARROW = to_arrow_schema(LINEAGE)


# Stamped, with the bucket count, into every output root so a resume
# NEVER mixes bucket layouts: docs bucketed under a different hash or
# bucket count would be silently skipped or duplicated.  Bump when
# bucket_col's function changes.
BUCKET_HASH_VERSION = "md5-60bit-v1"


def bucket_col(num_buckets: int):
    """Deterministic doc_id -> bucket (stable across runs/parallelism).

    md5-derived (first 60 bits) rather than xxhash64 so the assignment is
    reproducible OUTSIDE Spark too — the driver's DuckDB oracle recomputes
    it bit-for-bit.  Any stable hash satisfies the resume protocol; what
    matters is that the same doc lands in the same bucket on every run
    and at every cluster size."""
    h = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                16, 10).cast("bigint"))
    return F.pmod(h, F.lit(num_buckets)).cast("int")


def _counts(b: int) -> str:
    """SQL aggregate of bucket b's lineage counts, a struct of
    ``doc_count`` and ``METRICS``.  A wave's observation is one SQL
    expression, not four Columns per bucket: a one-wave run observes
    every bucket, and building 4 x 256 Columns through py4j took 7-14 s
    on 4 cores, longer than a whole 300-doc run at 16 buckets."""
    sums = "".join(f", '{m}', coalesce(sum(if(bucket = {b}, {m}, 0)), 0)"
                   for m in METRICS)
    return f"named_struct('doc_count', count_if(bucket = {b}){sums})"


class ResumableRunner:
    def __init__(self, spark: SparkSession, out_root: str, cfg: RunConfig,
                 lex_bc):
        self.spark = spark
        self.out_root = out_root
        self.cfg = cfg
        self.lex_bc = lex_bc
        self.data_dir = os.path.join(out_root, "data")
        self.lineage_dir = os.path.join(out_root, "lineage")
        self.stamp = os.path.join(out_root, "_markers", "_HASH_VERSION")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(os.path.dirname(self.stamp), exist_ok=True)
        self._check_stamp()

    def _check_stamp(self) -> None:
        """Refuse to resume an output root bucketed under a different
        doc_id hash or bucket count — its committed buckets would
        silently skip unprocessed docs and duplicate processed ones.  A
        stamp written before it recorded the bucket count is accepted
        and gets this run's count, so the count guard starts from that
        resume."""
        n = self.cfg.num_buckets
        if os.path.exists(self.stamp):
            with open(self.stamp) as fh:
                found, *count = fh.read().split()
            if found != BUCKET_HASH_VERSION:
                raise RuntimeError(
                    f"output root {self.out_root} was bucketed with hash "
                    f"{found!r}, engine uses {BUCKET_HASH_VERSION!r}; "
                    f"finish it with the old engine version or start a "
                    f"fresh output root")
            if count and int(count[0]) != n:
                raise RuntimeError(
                    f"output root {self.out_root} was bucketed into "
                    f"{count[0]} buckets, this run asks for {n}; finish "
                    f"it with --num-buckets {count[0]} or start a fresh "
                    f"output root")
            if count:
                return
        elif self.committed():
            raise RuntimeError(
                f"output root {self.out_root} has completed buckets but "
                f"no _HASH_VERSION stamp (pre-{BUCKET_HASH_VERSION} "
                f"layout); finish it with the engine version that wrote "
                f"it or start a fresh output root")
        with open(self.stamp, "w") as fh:
            fh.write(f"{BUCKET_HASH_VERSION}\n{n}\n")

    # -- bookkeeping -------------------------------------------------------

    def committed(self) -> dict[int, int]:
        """Committed bucket -> its ``doc_count``, from the lineage rows.
        A row counts only with its data directory; a bucket with two rows
        (an old root's replay) has the same ``doc_count`` in both, so the
        last one read wins."""
        done: dict[int, int] = {}
        # one file per row; the pattern skips a row still being written
        # under its hidden name.  ParquetFile reads one file without the
        # dataset module a directory read imports (64 -> 114 MB RSS in a
        # bare process, 64 -> 68 MB with ParquetFile)
        for path in sorted(glob.glob(os.path.join(self.lineage_dir,
                                                  "part-*.parquet"))):
            rows = pq.ParquetFile(path).read(
                columns=["partition_id", "doc_count"])
            done.update(zip(rows["partition_id"].to_pylist(),
                            rows["doc_count"].to_pylist()))
        return {b: n for b, n in done.items()
                if os.path.isdir(os.path.join(self.data_dir, f"bucket={b}"))}

    def _append_lineage(self, row: dict) -> None:
        """One parquet file per row, written under a hidden name (which
        Spark and pyarrow readers skip) and renamed into place, so a
        reader never sees a partial file."""
        os.makedirs(self.lineage_dir, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.lineage_dir, f".{name}")
        pq.write_table(pa.Table.from_pylist([row], schema=LINEAGE_ARROW), tmp)
        os.rename(tmp, os.path.join(self.lineage_dir, name))

    # -- the run -------------------------------------------------------------

    def run(self, docs: DataFrame, fail_after: int | None = None) -> int:
        """Process all pending buckets, one wave at a time, and return
        the number of docs this call committed (0 when every bucket was
        already done), summed from the waves' observed counts.
        ``fail_after`` injects a crash once N buckets have been committed
        (SURVEY.md test 5.2-6), checked before each wave and each
        bucket's commit."""
        cfg = self.cfg
        done = self.committed()
        pending = [b for b in range(cfg.num_buckets) if b not in done]
        bucketed = docs.withColumn("_bucket", bucket_col(cfg.num_buckets))
        size = math.ceil(cfg.num_buckets / self._num_waves(docs))
        # scratch of dead runs: uncommitted wave output nothing will read
        shutil.rmtree(os.path.join(self.out_root, "_tmp"), ignore_errors=True)
        tmp_root = os.path.join(self.out_root, "_tmp", cfg.run_id)
        n_committed = docs_committed = 0

        def check(b: int) -> None:
            if fail_after is not None and n_committed >= fail_after:
                raise RuntimeError(f"injected failure before bucket {b}")

        for k in range(0, len(pending), size):
            wave = pending[k:k + size]
            check(wave[0])
            t0 = time.time()
            wave_dir = os.path.join(tmp_root, f"wave-{k // size}")
            counts = self._write_wave(bucketed, wave, wave_dir)
            for b in wave:
                check(b)
                self._commit(b, os.path.join(wave_dir, f"bucket={b}"))
                self._append_lineage({
                    "run_id": cfg.run_id,
                    "partition_id": b,
                    **counts[b],
                    "status": "ok",
                    # the wave's start to this bucket's commit
                    "wall_ms": int((time.time() - t0) * 1000),
                    # a bucket with a row never runs again
                    "attempt": 1,
                    "finished_at": datetime.now(timezone.utc),
                })
                n_committed += 1
                docs_committed += counts[b]["doc_count"]
        shutil.rmtree(tmp_root, ignore_errors=True)
        return docs_committed

    def _num_waves(self, docs: DataFrame) -> int:
        """Waves for a run over ``docs``: one per round of input splits,
        at least 1 and at most ``ceil(sqrt(num_buckets))``."""
        plan = docs._jdf.queryExecution().optimizedPlan()
        round_bytes = (self.spark.sparkContext.defaultParallelism
                       * self.spark._jsparkSession.sessionState().conf()
                       .filesMaxPartitionBytes())
        waves = math.ceil(int(plan.stats().sizeInBytes()) / round_bytes)
        return max(1, min(waves, math.ceil(math.sqrt(self.cfg.num_buckets))))

    def _write_wave(self, bucketed: DataFrame, wave: list[int],
                    wave_dir: str) -> dict[int, dict[str, int]]:
        """One proofread pass over the wave's buckets, one partitioned
        write; returns bucket -> its lineage counts (``doc_count`` and
        ``METRICS``)."""
        cfg = self.cfg
        part = bucketed.filter(F.col("_bucket").isin(wave)).drop("_bucket")
        out = (proofread(self.spark, part, cfg, self.lex_bc)
               .withColumn("bucket", bucket_col(cfg.num_buckets)))
        obs = Observation()
        (out.observe(obs, F.expr(f"array({', '.join(map(_counts, wave))})")
                     .alias("counts"))
         .drop(*METRICS)
         .write.mode("overwrite").partitionBy("bucket").parquet(wave_dir))
        return {b: r.asDict() for b, r in zip(wave, obs.get["counts"])}

    def _commit(self, b: int, src: str) -> None:
        """Move bucket b's wave output to ``data/bucket=<b>``.  An empty
        bucket has no ``src`` (partitionBy writes no directory for it) and
        gets an empty one, so every committed bucket has its directory."""
        final = os.path.join(self.data_dir, f"bucket={b}")
        if os.path.isdir(final):  # stale partial from a dead run
            shutil.rmtree(final)
        if os.path.isdir(src):
            os.rename(src, final)
        else:
            os.makedirs(final)
