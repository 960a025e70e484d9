"""The repo benchmark: one command, seeded inputs, output checks.

    python3 perfbench/run.py --workload job_books --seed 1 --seconds 5 \
        --trace 0

Builds (or reuses) the seed's inputs, then runs the workload in fresh
child processes (``child.py``) on ``local[<cores>]`` -- one client, one
job at a time -- until ``--seconds`` of timed work have been measured
(at least one run).  Checks every output; any miss makes the result
incorrect and the exit code 1.  The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
a traced child (event log + UDF profiler) gives the per-layer ones.  See
README.md for the workloads, metrics and layer table.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

NUM_BUCKETS = 16  # proofread_job's default --num-buckets
CHILD_TIMEOUT_S = 160   # one child run; the whole command must end in 180 s
JVM_EXIT_GRACE_S = 20   # for the JVM to exit after its Python driver has

WORKLOADS = {
    # the production job, default 16 buckets and derived tables, over
    # books plus one giant book on the skew path
    "job_books": {"call": "job", "docs": 600, "giants": 1, "sample": 6},
    # the operator into parquet with a ~10^5-word lexicon, no giants; its
    # traced run also runs the curation job over the seed's flat table
    "proofread_biglex": {"call": "proofread", "docs": 1200, "giants": 0,
                         "sample": 3, "big_lexicon": True,
                         "traced_curate_docs": 600},
}


def build_inputs(name: str, seed: int, trace: bool) -> dict:
    w = WORKLOADS[name]
    if w.get("big_lexicon"):
        lex = inputs.big_lexicon()
        man = inputs.books(seed, w["docs"], w["giants"], w["sample"],
                           lexicon_path=lex, one_file=True)
        man["lexicon_path"] = lex
    else:
        man = inputs.books(seed, w["docs"], w["giants"], w["sample"])
    if trace and w.get("traced_curate_docs"):
        man["flat_input"] = inputs.flat(seed, w["traced_curate_docs"])["input"]
    return man


# -- processes -------------------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent exits (the JVM after its Python driver, a Python worker
    after the JVM) is re-parented here instead of to init, so
    ``end_processes`` still sees it and can wait for it."""
    try:
        import ctypes
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER,
                                                1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def process_tree(pid: int) -> set[int]:
    """``pid`` and all its descendants."""
    tree, todo = set(), [pid]
    while todo:
        p = todo.pop()
        tree.add(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return tree


def _live_in(p: int, sid: int | None) -> bool:
    """Whether ``p`` runs (is not a zombie) and, given ``sid``, belongs to
    that session."""
    try:
        with open(f"/proc/{p}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and (sid is None or int(fields[3]) == sid)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_processes(sid: int | None, grace: float) -> None:
    """Wait until every descendant of this process -- only those of
    session ``sid`` when given -- has ended and been reaped; kill those
    still running after ``grace`` seconds."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    while True:
        _reap()
        live = [p for p in process_tree(me)
                if p != me and _live_in(p, sid)]
        if not live:
            _reap()  # those that ended since the last reap
            return
        if time.monotonic() >= deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def end_all_processes(grace: float) -> None:
    """Stop the multiprocessing resource tracker the input builders
    started, then end every remaining descendant."""
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()
    end_processes(None, grace)


# -- process tree memory ---------------------------------------------------------


class PeakRss:
    """Samples the peak RSS (VmHWM) of every process under ``pid``, by
    kind: the JVM (``java``) and the Python driver and workers
    (``python*``).  Anything else is skipped: a child the JVM forks to
    run a shell command carries the JVM's RSS and a JVM thread's name
    until it execs."""

    def __init__(self, pid: int, every: float = 1.0):
        self.pid, self.every = pid, every
        self.peak_kb = {"python": 0, "java": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        for p in process_tree(self.pid):
            try:
                with open(f"/proc/{p}/comm") as fh:
                    comm = fh.read().strip()
                with open(f"/proc/{p}/status") as fh:
                    hwm = [line for line in fh if line.startswith("VmHWM:")]
            except OSError:
                continue
            kind = "java" if comm == "java" else \
                "python" if comm.startswith("python") else None
            if kind and hwm:
                self.peak_kb[kind] = max(self.peak_kb[kind],
                                         int(hwm[0].split()[1]))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.every)

    def stop(self) -> tuple[float, float]:
        """Stop sampling -> peak MB of the largest Python process and of
        the JVM."""
        self._stop.set()
        self._thread.join()
        return self.peak_kb["python"] / 1024, self.peak_kb["java"] / 1024


# -- one child run ---------------------------------------------------------------


def run_child(name: str, man: dict, seed: int, k: int, trace: bool,
              cores: int, trace_mode: bool = False) -> dict:
    w = WORKLOADS[name]
    work = os.path.join(inputs.WORK, "work", f"{name}_s{seed}_{os.getpid()}"
                        f"_{k}{'_trace' if trace else ''}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = {"workload": name, "call": w["call"], "cores": cores,
            "lexicon": man.get("lexicon_path"), "input": man["input"],
            "out": os.path.join(work, "out"), "work": work, "trace": trace,
            "result": os.path.join(work, "result.json"),
            "sample": man["sample"], "giants": man["giants"],
            "input_rows": man["docs"]}
    if trace_mode:
        spec["setups"] = 1  # setup_s is not reported by a traced run
    if trace:
        spec["flat_input"] = man.get("flat_input")
    if w["call"] != "job":
        os.makedirs(spec["out"])
    with open(os.path.join(work, "spec.json"), "w") as fh:
        json.dump(spec, fh)
    # launch-time settings only: no console progress bar, and for the
    # traced run the event log and the Python UDF profiler
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.sql.pyspark.udf.profiler=perf"]
    env = dict(os.environ, PYSPARK_SUBMIT_ARGS=" ".join(submit)
               + " pyspark-shell", PYTHONPATH=ROOT)
    with open(os.path.join(work, "child.log"), "w") as log:
        # a session of its own, so the JVM and its Python workers can be
        # told apart from the rest and waited for after the child exits
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"),
             os.path.join(work, "spec.json")],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
            start_new_session=True)
        rss = PeakRss(proc.pid)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except BaseException:
            end_processes(proc.pid, 0)
            raise
        finally:
            peak, jvm_peak = rss.stop()
        end_processes(proc.pid, JVM_EXIT_GRACE_S)
    if code != 0:
        with open(os.path.join(work, "child.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{name}: child exited with {code}")
    with open(spec["result"]) as fh:
        res = json.load(fh)
    res.update(spec=spec, peak_rss_mb=peak, jvm_peak_rss_mb=jvm_peak)
    check(name, man, res)
    return res


def check(name: str, man: dict, res: dict) -> None:
    """Output checks of one child run; fills ``res["checks"]``."""
    spec = res["spec"]
    data = os.path.join(spec["out"], "data")
    in_ids = checks.read_column(spec["input"], "doc_id")
    out_ids = checks.read_column(data, "doc_id")
    with open(os.path.join(man["path"], "expected.json")) as fh:
        expected = json.load(fh)
    got = checks.read_docs(data, list(expected))
    lineage = None
    c = {"attempted": len(in_ids),
         "failed": checks.id_failures(out_ids, in_ids),
         "sample": len(expected),
         "matched": checks.sample_match(got, expected)}
    if spec["call"] == "job":
        lineage = checks.read_lineage(spec["out"])
        c["lineage_ok"] = checks.lineage_ok(lineage, NUM_BUCKETS,
                                            len(out_ids), len(in_ids))
        res["lineage_run"] = [r for r in lineage if r["run_id"] == "bench"]
    refs = os.path.join(inputs.WORK, "refs",
                        f"{name}_{os.path.basename(man['path'])}")
    c["digest_ok"] = checks.same_as_reference(refs + ".json", res["digest"])
    curated = res.get("trace", {}).get("curate")
    if curated:
        texts = checks.read_column(os.path.join(spec["out"], "curated"),
                                   "text")
        c["curate_ok"] = (checks.curate_ok(curated["survivors"], texts)
                          and checks.same_as_reference(
                              refs + "_curate.json", curated["survivors"]))
    c["self_test_missed"] = checks.self_test(got, expected, out_ids, in_ids,
                                             lineage, NUM_BUCKETS)
    c["ok"] = (c["failed"] == 0 and c["matched"] == c["sample"]
               and c.get("lineage_ok", True) and c["digest_ok"]
               and c.get("curate_ok", True)
               and not c["self_test_missed"])
    res["checks"] = c


# -- metrics ---------------------------------------------------------------------


def e2e_metrics(runs: list[dict]) -> dict:
    docs_per_s = [r["checks"]["attempted"] / r["wall_s"] for r in runs]
    sample = sum(r["checks"]["sample"] for r in runs)
    attempted = sum(r["checks"]["attempted"] for r in runs)
    failed = sum(r["checks"]["failed"] for r in runs)
    return {
        "docs_per_s": (statistics.median(docs_per_s), "1/s"),
        "setup_s": (statistics.median(r["setup_s"] for r in runs), "s"),
        "peak_rss_mb": (statistics.median(r["peak_rss_mb"] for r in runs),
                        "MB"),
        "exact_match_rate": (sum(r["checks"]["matched"] for r in runs)
                             / sample, "ratio"),
        "docs_ok_frac": ((attempted - failed) / attempted, "ratio"),
    }


def untraced_reference(name: str) -> float | None:
    """Median untraced docs_per_s recorded by earlier runs in this
    checkout, for ``trace.overhead_frac``."""
    path = os.path.join(inputs.WORK, "results", f"{name}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        vals = [json.loads(line)["docs_per_s"] for line in fh if line.strip()]
    return statistics.median(vals) if vals else None


def record(name: str, runs: list[dict]) -> None:
    os.makedirs(os.path.join(inputs.WORK, "results"), exist_ok=True)
    with open(os.path.join(inputs.WORK, "results", f"{name}.jsonl"),
              "a") as fh:
        for r in runs:
            fh.write(json.dumps({"docs_per_s": r["checks"]["attempted"]
                                 / r["wall_s"]}) + "\n")


def traced_run(name: str, man: dict, seed: int, cores: int,
               runs: list[dict]) -> dict:
    """One traced child; appends it to ``runs`` and returns the per-layer
    metrics.  ``trace.overhead_frac`` compares it with the untraced runs
    this checkout has recorded, and is 0 when there are none yet: an
    untraced child of its own would take the traced run of ``job_books``
    past the 180 s a run may last."""
    import trace_layers
    ref = untraced_reference(name)
    traced = run_child(name, man, seed, 1, True, cores, trace_mode=True)
    runs.append(traced)
    spec = traced["spec"]
    jobs = trace_layers.read_event_log(os.path.join(spec["work"], "eventlog"))
    layer = trace_layers.layer_metrics(spec, traced, jobs)
    layer["spark.jvm_peak_rss_mb"] = traced["jvm_peak_rss_mb"]
    layer["trace.overhead_frac"] = 0.0 if ref is None else \
        1 - traced["checks"]["attempted"] / traced["wall_s"] / ref
    unknown = set(layer) - set(trace_layers.PER_LAYER)
    if unknown:
        raise KeyError(f"unregistered metrics {sorted(unknown)}")
    return {k: (layer.get(k, 0), unit)
            for k, (unit, _better) in trace_layers.PER_LAYER.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("ocr_proofreader_spark", "fixtures/gen.py",
                           "oracle/refsem.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine (missing "
              f"{', '.join(missing)})", file=sys.stderr)
        return 2
    adopt_orphans()
    # a SIGTERM unwinds like an error, so every process started is ended
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measure(args)
    finally:
        end_all_processes(JVM_EXIT_GRACE_S)


def measure(args: argparse.Namespace) -> int:
    cores = os.cpu_count() or 1
    t0 = time.perf_counter()
    man = build_inputs(args.workload, args.seed, bool(args.trace))
    build_s = time.perf_counter() - t0

    runs: list[dict] = []
    try:
        if args.trace:
            metrics = traced_run(args.workload, man, args.seed, cores, runs)
        else:
            measured = 0.0
            while not runs or measured < args.seconds:
                runs.append(run_child(args.workload, man, args.seed,
                                      len(runs), False, cores))
                measured += runs[-1]["wall_s"]
            record(args.workload, runs)
            metrics = e2e_metrics(runs)
    except BaseException:
        print(f"perfbench: work directories kept under "
              f"{os.path.join(inputs.WORK, 'work')}", file=sys.stderr)
        raise
    for r in runs:
        shutil.rmtree(r["spec"]["work"], ignore_errors=True)

    correct = all(r["checks"]["ok"] for r in runs)
    for r in runs:
        if not r["checks"]["ok"]:
            print(f"perfbench: check failed: {json.dumps(r['checks'])}",
                  file=sys.stderr)
    info = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "runs": len(runs),
            "input_docs": man["docs"], "input_spans": man["spans"],
            "giant_spans": man["giant_spans"],
            "input_build_s": build_s, "input_cached": man["cached"],
            "confs": runs[-1]["confs"],
            "children": [{k: r.get(k) for k in ("wall_s", "plan_s", "setups",
                                                "peak_rss_mb",
                                                "jvm_peak_rss_mb", "checks")}
                         for r in runs]}
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["checks"]["attempted"] for r in runs),
        "failed": sum(r["checks"]["failed"] for r in runs),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
