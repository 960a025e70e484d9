"""Per-layer collection for the traced run.

The traced run is launched with Spark's event log and the Python UDF
profiler on (``spark.eventLog.enabled``, ``spark.sql.pyspark.udf.profiler
=perf``, both passed at launch).  Inside the child, after the timed call,
:func:`collect` dumps the UDF profile and runs the noop-sink ladder; after
the child exits, ``run.py`` reads the event log with :func:`read_event_log`
and :func:`layer_metrics` turns both into the per-layer metrics.

Every Spark job carries the job group the benchmark set around the call
that started it (``perfbench.timed``, ``perfbench.ladder.<rung>``, ...), and
its SQL execution's plan names the tables it reads and writes, so each
stage maps to a layer without any change to the engine.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import statistics
import time

def _names(unit: str, better: str, *names: str) -> dict:
    return {n: (unit, better) for n in names}


# Every per-layer metric with its unit and direction.  A traced run
# reports all of them; a layer that does not run on a workload reads 0.
PER_LAYER = {
    **_names("count", "higher", "lexicon.words"),
    **_names("s", "lower", "lexicon.load_s", "lexicon.index_build_s"),
    **_names("s", "lower", "scan.s"),
    **_names("bytes", "lower", "scan.input_bytes"),
    **_names("count", "lower", "scan.tasks", "scan.count", "scan.records"),
    **_names("s", "lower", "placement.s"),
    **_names("count", "lower", "placement.exchanges"),
    **_names("bytes", "lower", "placement.shuffle_write_bytes"),
    **_names("s", "lower", "arrow.boundary_s"),
    **_names("s", "lower", "rules.udf_s", "rules.token_pass_s",
             "rules.scorer_s", "rules.dist_le2_s"),
    **_names("count", "lower", "rules.bucket_candidates_calls"),
    **_names("1/s", "higher", "rules.driver_docs_per_s"),
    **_names("count", "higher", "rules.corrections", "rules.known_hits"),
    **_names("count", "lower", "rules.flagged"),
    **_names("s", "lower", "proofread.plan_s", "proofread.probe_s",
             "proofread.fast_s", "proofread.chunked_s"),
    **_names("bytes", "lower", "proofread.chunked_shuffle_bytes"),
    **_names("count", "higher", "proofread.giant_docs"),
    **_names("s", "lower", "sink.s"),
    **_names("bytes", "lower", "sink.output_bytes"),
    **_names("s", "lower", "resume.run_s", "resume.bucket_s_p50",
             "resume.bucket_s_max", "resume.lineage_s",
             "resume.overhead_s"),
    **_names("count", "lower", "resume.buckets_run", "resume.spark_jobs"),
    **_names("s", "lower", "derived.word_freq_s",
             "derived.lexicon_table_s"),
    **_names("bytes", "lower", "derived.shuffle_write_bytes"),
    **_names("s", "lower", "job.proofread_sec", "job.derived_sec",
             "job.final_count_s"),
    **_names("s", "lower", "curate.wall_s", "curate.input_count_s",
             "curate.quality_filter_s", "curate.line_dedup_s",
             "curate.near_dup_s", "curate.decontam_s", "curate.sample_s",
             "curate.sink_s"),
    **_names("count", "higher", "curate.quality_filter_survivors",
             "curate.line_dedup_survivors", "curate.near_dup_survivors",
             "curate.decontam_survivors", "curate.sample_survivors"),
    **_names("bytes", "lower", "curate.shuffle_write_bytes"),
    **_names("count", "lower", "curate.spark_jobs"),
    **_names("count", "lower", "spark.jobs", "spark.stages", "spark.tasks",
             "spark.failed_tasks"),
    **_names("s", "lower", "spark.executor_run_s", "spark.executor_cpu_s",
             "spark.gc_s"),
    **_names("bytes", "lower", "spark.shuffle_write_bytes",
             "spark.spill_bytes"),
    **_names("ratio", "higher", "spark.core_busy_frac"),
    **_names("MB", "lower", "spark.jvm_peak_rss_mb"),
    **_names("ratio", "lower", "trace.overhead_frac"),
    **_names("s", "lower", "trace.unattributed_s"),
}

RULES_FUNCS = {"_token_pass": "rules.token_pass_s",
               "_scorer_fix": "rules.scorer_s",
               "dist_le2": "rules.dist_le2_s"}


# -- inside the traced child ----------------------------------------------------


@contextlib.contextmanager
def job_group(spark, name: str):
    """Tag every Spark job started inside the block with ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setJobGroup("perfbench.other", "perfbench.other")


@contextlib.contextmanager
def count_stamps(spark, stamps: list):
    """Record when each ``DataFrame.count`` returns inside the block, so
    the curation stages (each ends in a survivor count) can be timed."""
    DataFrame = type(spark.range(1))
    orig = DataFrame.count

    def count(self):
        n = orig(self)
        stamps.append(time.perf_counter())
        return n
    DataFrame.count = count
    try:
        yield
    finally:
        DataFrame.count = orig


def _profile(spark, out_dir: str) -> dict:
    """Python UDF profile of everything run so far, summed over UDFs."""
    import pstats
    os.makedirs(out_dir, exist_ok=True)
    spark.profile.dump(out_dir)
    files = glob.glob(os.path.join(out_dir, "*.pstats"))
    res = {"rules.udf_s": 0.0, "rules.bucket_candidates_calls": 0,
           **{k: 0.0 for k in RULES_FUNCS.values()}}
    if not files:
        return res
    stats = pstats.Stats(*files).stats
    for (path, _line, name), (_cc, nc, _tt, ct, _callers) in stats.items():
        # the profiler strips directories from file names
        if path == "proofread.py" and name == "fn":
            res["rules.udf_s"] += ct
        elif path == "rules.py":
            if name in RULES_FUNCS:
                res[RULES_FUNCS[name]] += ct
            elif name == "bucket_candidates":
                res["rules.bucket_candidates_calls"] += nc
    spark.profile.clear()
    return res


def _rung(spark, name: str, df, sink: str | None = None) -> float:
    """Time one ladder rung: ``df`` into the noop sink, or into parquet
    at ``sink``."""
    t0 = time.perf_counter()
    with job_group(spark, f"perfbench.ladder.{name}"):
        w = df.write.mode("overwrite")
        if sink:
            w.parquet(sink)
        else:
            w.format("noop").save()
    return time.perf_counter() - t0


def _ladder_proofread(spark, lex_bc, spec: dict, cfg) -> dict:
    """scan -> +placement -> +identity Arrow boundary -> +proofread_fast
    -> +parquet sink over the fast-path docs, then the skew path over the
    giant books and the whole operator into parquet."""
    from pyspark.sql import functions as F

    from ocr_proofreader_spark.operators.proofread import (
        proofread, proofread_chunked, proofread_fast, rebalance)

    def identity(batches):  # nested, so it is pickled by value
        yield from batches

    docs = spark.read.parquet(spec["input"])
    small = docs.filter(F.col("n_spans") <= cfg.chunk_threshold_spans)
    cols = small.select("doc_id", "spans")
    sink = os.path.join(spec["out"], "ladder")
    t = {"scan": _rung(spark, "scan", cols),
         "placement": _rung(spark, "placement", rebalance(cols, cfg)),
         "arrow": _rung(spark, "arrow", rebalance(cols, cfg).mapInPandas(
             identity, cols.schema)),
         "fast": _rung(spark, "fast", proofread_fast(small, lex_bc, cfg)),
         "sink": _rung(spark, "sink", proofread_fast(small, lex_bc, cfg)
                       .drop("span_count", "corrections", "flagged"),
                       os.path.join(sink, "fast"))}
    if spec.get("giants"):
        big = docs.filter(F.col("n_spans") > cfg.chunk_threshold_spans)
        t["chunked"] = _rung(spark, "chunked",
                             proofread_chunked(spark, big, lex_bc, cfg))
    if spec["call"] == "job":
        t0 = time.perf_counter()
        out = proofread(spark, docs, cfg, lex_bc)
        t_plan = time.perf_counter() - t0
        t["operator"] = t_plan + _rung(
            spark, "operator",
            out.drop("span_count", "corrections", "flagged"),
            os.path.join(sink, "operator"))
    return t


def _driver_rules(spec: dict, lexicon_path: str) -> dict:
    """Time ``DocProofreader.run`` over the oracle sample's regular books
    in this process, with a freshly built index."""
    import checks
    from ocr_proofreader_spark.functions.rules import DocProofreader, LexIndex
    from ocr_proofreader_spark.lexicon import load_base_lexicon
    t0 = time.perf_counter()
    base = load_base_lexicon(lexicon_path)
    t1 = time.perf_counter()
    idx = LexIndex(base)
    t2 = time.perf_counter()
    docs = checks.read_input_docs(
        spec["input"], [d for d in spec["sample"] if d not in spec["giants"]])
    corrections = flagged = 0
    t3 = time.perf_counter()
    for spans in docs.values():
        pr = DocProofreader(idx, freq_k=5)
        pr.run(spans)
        corrections += pr.corrections
        flagged += pr.flagged
    t4 = time.perf_counter()
    return {"lexicon.load_s": t1 - t0, "lexicon.index_build_s": t2 - t1,
            "lexicon.words": len(base),
            "rules.driver_docs_per_s": len(docs) / (t4 - t3),
            "rules.corrections": corrections, "rules.flagged": flagged,
            "rules.known_hits": len(idx.known_hits)}


def collect(spark, lex_bc, spec: dict, cfg) -> dict:
    """Everything the traced child measures after its timed call; ``cfg``
    is the RunConfig of the timed call."""
    out = {"profile": _profile(spark, os.path.join(spec["work"],
                                                   "profile"))}
    lexicon_path = spec.get("lexicon") or cfg.lexicon_path
    if lex_bc is None:
        from ocr_proofreader_spark.lexicon import (broadcast_lexicon,
                                                   load_base_lexicon)
        lex_bc = broadcast_lexicon(spark, load_base_lexicon(lexicon_path))
    out["ladder"] = _ladder_proofread(spark, lex_bc, spec, cfg)
    out["driver"] = _driver_rules(spec, lexicon_path)
    if spec.get("flat_input"):
        out["curate"] = _curate_pass(spark, spec)
    return out


def _curate_pass(spark, spec: dict) -> dict:
    """The curation job over the seed's flat table, for the curate
    layer: ``curate`` plus its parquet write, each stage timed by the
    survivor count that ends it."""
    from ocr_proofreader_spark.jobs.curate_job import curate
    stamps: list[float] = []
    t0 = time.perf_counter()
    with job_group(spark, "perfbench.curate"), \
            count_stamps(spark, stamps):
        curated, survivors = curate(spark,
                                    spark.read.parquet(spec["flat_input"]))
        t1 = time.perf_counter()
        curated.write.mode("overwrite").parquet(
            os.path.join(spec["out"], "curated"))
    return {"wall_s": time.perf_counter() - t0, "survivors": survivors,
            "sink_s": time.perf_counter() - t1,
            "count_stamps": [t - t0 for t in stamps]}


# -- after the child: the event log ---------------------------------------------


def _walk(plan: dict):
    yield plan
    for c in plan.get("children", ()):
        yield from _walk(c)


def _events(parts: list[str]):
    for p in parts:
        with open(p) as fh:
            for line in fh:
                yield json.loads(line)


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of every application logged in ``log_dir``, each with its
    group, wall time, plan and summed task metrics."""
    jobs: list[dict] = []
    for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
        # one file per application, or a rolling-log directory of
        # events_<n>_<app> parts
        parts = sorted(glob.glob(os.path.join(app, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1])) \
            if os.path.isdir(app) else [app]
        app_jobs: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        plans: dict[int, dict] = {}
        for ev in _events(parts):
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                j = {"group": props.get("spark.jobGroup.id"),
                     "exec": int(ex) if ex is not None else None,
                     "start": ev["Submission Time"], "end": None,
                     "stages": 0, "tasks": 0, "failed_tasks": 0,
                     "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                     "input_records": 0, "input_tasks": 0,
                     "shuffle_write": 0, "spill": 0}
                app_jobs[ev["Job ID"]] = j
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, j)
            elif kind == "SparkListenerJobEnd":
                app_jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                j = stage_job.get(ev["Stage Info"]["Stage ID"])
                if j is not None:
                    j["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                j = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                if j is None:
                    continue
                j["tasks"] += 1
                j["failed_tasks"] += bool(ev["Task Info"].get("Failed"))
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ns"] += m.get("Executor CPU Time", 0)
                j["gc_ms"] += m.get("JVM GC Time", 0)
                nin = (m.get("Input Metrics") or {}).get("Records Read", 0)
                j["input_records"] += nin
                j["input_tasks"] += nin > 0
                j["shuffle_write"] += (m.get("Shuffle Write Metrics")
                                       or {}).get("Shuffle Bytes Written",
                                                  0)
                j["spill"] += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
        for j in app_jobs.values():
            j["plan"] = plans.get(j["exec"])
            jobs.append(j)
    return jobs


def _bytes_per_row(path: str, rows: int) -> float:
    """On-disk bytes per row of a parquet table.  Spark's task-level
    ``Bytes Read`` stays near 0 for the vectorized local-file reader, so
    scanned bytes are estimated from ``Records Read`` instead."""
    size = sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(path, "*.parquet")))
    return size / rows


def _sum(jobs: list[dict], key: str) -> float:
    return sum(j[key] for j in jobs)


def _wall(jobs: list[dict]) -> float:
    return sum((j["end"] - j["start"]) / 1000 for j in jobs if j["end"])


def _plans(jobs: list[dict]) -> list[dict]:
    """Each distinct SQL execution's plan once."""
    seen: dict[int, dict] = {}
    for j in jobs:
        if j["exec"] is not None and j["plan"] is not None:
            seen[j["exec"]] = j["plan"]
    return list(seen.values())


def _scan_count(jobs: list[dict], input_path: str) -> int:
    """Parquet scan nodes over ``input_path`` in the group's plans."""
    n = 0
    for plan in _plans(jobs):
        for node in _walk(plan):
            if node.get("nodeName", "").startswith("Scan parquet") and \
                    input_path in json.dumps(node.get("metadata", {})):
                n += 1
    return n


PLACEMENT_EXCHANGE = re.compile(
    r"hashpartitioning\(doc_id#\d+, \d+\), REPARTITION_BY_NUM")


def _placement_exchanges(jobs: list[dict]) -> int:
    """Exchanges of an explicit ``repartition(n, "doc_id")``: the form
    ``rebalance`` and ``spread_input`` take (the skew path's span spread
    also keys on ``offset`` and is not counted)."""
    return sum(1 for plan in _plans(jobs) for node in _walk(plan)
               if node.get("nodeName") == "Exchange"
               and PLACEMENT_EXCHANGE.search(node.get("simpleString", "")))


def _job_layer(j: dict, out: str, input_path: str) -> str:
    """Layer of one Spark job inside ``proofread_job.main``, from the
    tables its plan reads and writes."""
    text = json.dumps(j["plan"]) if j["plan"] else ""
    for needle, layer in ((f"{out}/lexicon", "derived.lexicon_table"),
                          (f"{out}/word_freq", "derived.word_freq"),
                          (f"{out}/lineage", "resume.lineage"),
                          (f"{out}/_tmp", "resume.bucket"),
                          (f"{out}/data", "job.final_count"),
                          (input_path, "proofread.probe")):
        if needle in text:
            return layer
    return "other"


def layer_metrics(spec: dict, res: dict, jobs: list[dict]) -> dict:
    """Per-layer metrics of one traced run."""
    call, wall, cores = spec["call"], res["wall_s"], spec["cores"]
    tr = res["trace"]
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    timed = by_group.get("perfbench.timed", [])
    m: dict = {
        "spark.jobs": len(timed),
        "spark.stages": _sum(timed, "stages"),
        "spark.tasks": _sum(timed, "tasks"),
        "spark.failed_tasks": _sum(timed, "failed_tasks"),
        "spark.executor_run_s": _sum(timed, "run_ms") / 1000,
        "spark.executor_cpu_s": _sum(timed, "cpu_ns") / 1e9,
        "spark.gc_s": _sum(timed, "gc_ms") / 1000,
        "spark.shuffle_write_bytes": _sum(timed, "shuffle_write"),
        "spark.spill_bytes": _sum(timed, "spill"),
        "spark.core_busy_frac": _sum(timed, "run_ms") / 1000 / (wall * cores),
        "scan.records": _sum(timed, "input_records"),
        "scan.input_bytes": _sum(timed, "input_records") * _bytes_per_row(
            spec["input"], spec["input_rows"]),
        "scan.tasks": _sum(timed, "input_tasks"),
        "scan.count": _scan_count(timed, spec["input"]),
        "placement.exchanges": _placement_exchanges(timed),
        "sink.output_bytes": sum(
            os.path.getsize(p) for p in glob.glob(
                os.path.join(spec["out"], "data", "**", "*.parquet"),
                recursive=True)),
    }
    lad = tr["ladder"]
    m["scan.s"] = lad["scan"]
    m["placement.s"] = lad["placement"] - lad["scan"]
    m["placement.shuffle_write_bytes"] = _sum(
        by_group.get("perfbench.ladder.placement", []), "shuffle_write")
    m |= tr["profile"] | tr["driver"]
    m["arrow.boundary_s"] = lad["arrow"] - lad["placement"]
    m["proofread.fast_s"] = lad["fast"] - lad["arrow"]
    m["sink.s"] = lad["sink"] - lad["fast"]
    m["proofread.giant_docs"] = len(spec.get("giants", []))
    if "chunked" in lad:
        m["proofread.chunked_s"] = lad["chunked"]
        m["proofread.chunked_shuffle_bytes"] = _sum(
            by_group.get("perfbench.ladder.chunked", []), "shuffle_write")
    if call == "proofread":
        m["proofread.plan_s"] = res["plan_s"]
        m["trace.unattributed_s"] = wall - sum(
            m[k] for k in ("proofread.plan_s", "scan.s", "placement.s",
                           "arrow.boundary_s", "proofread.fast_s", "sink.s"))
        if "curate" in tr:
            m |= _curate_layers(tr["curate"],
                                by_group.get("perfbench.curate", []))
        return m
    return m | _job_layers(spec, res, timed, m)


def _job_layers(spec: dict, res: dict, timed: list[dict], m: dict) -> dict:
    layer: dict[str, list[dict]] = {}
    for j in timed:
        layer.setdefault(_job_layer(j, spec["out"], spec["input"]),
                         []).append(j)
    derived = layer.get("derived.word_freq", []) + \
        layer.get("derived.lexicon_table", [])
    walls = sorted(r["wall_ms"] / 1000 for r in res["lineage_run"])
    run_s = res["job"]["proofread_sec"]
    out = {
        "job.proofread_sec": run_s,
        "job.derived_sec": res["job"]["derived_sec"],
        "job.final_count_s": _wall(layer.get("job.final_count", [])),
        "derived.word_freq_s": _wall(layer.get("derived.word_freq", [])),
        "derived.lexicon_table_s": _wall(
            layer.get("derived.lexicon_table", [])),
        "derived.shuffle_write_bytes": _sum(derived, "shuffle_write"),
        "resume.run_s": run_s,
        "resume.buckets_run": len(walls),
        "resume.bucket_s_p50": statistics.median(walls) if walls else 0.0,
        "resume.bucket_s_max": max(walls, default=0.0),
        "resume.spark_jobs": sum(len(layer.get(k, [])) for k in (
            "resume.bucket", "resume.lineage", "proofread.probe")),
        "resume.lineage_s": _wall(layer.get("resume.lineage", [])),
        "resume.overhead_s": run_s - res["trace"]["ladder"]["operator"],
        "proofread.probe_s": _wall(layer.get("proofread.probe", [])),
    }
    out["trace.unattributed_s"] = res["wall_s"] - (
        run_s + out["derived.word_freq_s"] + out["derived.lexicon_table_s"]
        + out["job.final_count_s"])
    return out


STAGES = ("quality_filter", "line_dedup", "near_dup", "decontam", "sample")
SURVIVORS = ("after_quality_filter", "after_line_dedup", "after_near_dup",
             "after_decontamination", "after_stratified_sample")


def _curate_layers(res: dict, jobs: list[dict]) -> dict:
    """Stage times from the survivor counts' return times: stage k runs
    between count k and count k+1 (count 0 is the input count)."""
    st = res["count_stamps"]
    out = {"curate.wall_s": res["wall_s"], "curate.input_count_s": st[0],
           "curate.sink_s": res["sink_s"],
           "curate.shuffle_write_bytes": _sum(jobs, "shuffle_write"),
           "curate.spark_jobs": len(jobs)}
    for k, (stage, key) in enumerate(zip(STAGES, SURVIVORS)):
        out[f"curate.{stage}_s"] = st[k + 1] - st[k]
        out[f"curate.{stage}_survivors"] = res["survivors"][key]
    return out
