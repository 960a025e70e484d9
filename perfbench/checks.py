"""Output checks.  Any miss makes the run incorrect.

Each check is a pure function over data loaded from a run's output, so
``self_test`` can hand the same functions a deliberately damaged copy and
insist that they fail.
"""

from __future__ import annotations

import json
import os
from collections import Counter


def read_column(path: str, col: str) -> list:
    import pyarrow.dataset as ds
    return ds.dataset(path, format="parquet", partitioning="hive") \
        .to_table(columns=[col]).column(col).to_pylist()


def read_docs(path: str, ids: list[str]) -> dict[str, list]:
    """doc_id -> output spans as [kind, text, media_ref, order] lists."""
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "spans"], filter=ds.field("doc_id").isin(ids))
    out: dict[str, list] = {}
    for d, spans in zip(t.column("doc_id").to_pylist(),
                        t.column("spans").to_pylist()):
        out[d] = [[s["kind"], s["text"], s["media_ref"], s["order"]]
                  for s in spans]
    return out


def read_input_docs(path: str, ids: list[str]) -> dict[str, list[dict]]:
    """doc_id -> input spans (dicts with kind/text/media_ref/offset)."""
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet").to_table(
        columns=["doc_id", "spans"], filter=ds.field("doc_id").isin(ids))
    return dict(zip(t.column("doc_id").to_pylist(),
                    t.column("spans").to_pylist()))


def read_lineage(out_root: str) -> list[dict]:
    import pyarrow.dataset as ds
    return ds.dataset(os.path.join(out_root, "lineage"),
                      format="parquet").to_table().to_pylist()


# -- checks ---------------------------------------------------------------------


def sample_match(got: dict[str, list], expected: dict[str, list]) -> int:
    """Sample docs whose spans equal the oracle's."""
    return sum(got.get(d) == spans for d, spans in expected.items())


def id_failures(out_ids: list, in_ids: list, complete: bool = True) -> int:
    """Input docs missing from the output (``complete``), duplicated in
    it, or output ids that are not input docs."""
    counts = Counter(out_ids)
    inputs = set(in_ids)
    dup = sum(c - 1 for c in counts.values())
    extra = sum(c for d, c in counts.items() if d not in inputs)
    missing = len(inputs - counts.keys()) if complete else 0
    return missing + dup + extra


def latest_lineage(rows: list[dict]) -> dict[int, dict]:
    """The lineage row of each bucket's latest attempt (the dedupe
    ``ResumableRunner.read_lineage`` applies)."""
    best: dict[int, dict] = {}
    for r in rows:
        k = r["partition_id"]
        if k not in best or (r["attempt"], r["finished_at"]) > \
                (best[k]["attempt"], best[k]["finished_at"]):
            best[k] = r
    return best


def lineage_ok(rows: list[dict], n_buckets: int, out_rows: int,
               in_docs: int) -> bool:
    """One ok row per bucket after the dedupe, and the doc counts add up
    to both the output rows and the input docs."""
    latest = latest_lineage(rows)
    return (sorted(latest) == list(range(n_buckets))
            and all(r["status"] == "ok" for r in latest.values())
            and sum(r["doc_count"] for r in latest.values())
            == out_rows == in_docs)


def curate_ok(survivors: dict, out_texts: list[str]) -> bool:
    """Stage survivor counts never grow, the output holds exactly the
    sampled docs, and no two output docs share a text (exact duplicates
    must not survive line dedup)."""
    order = ["input_docs", "after_quality_filter", "after_line_dedup",
             "after_near_dup", "after_decontamination",
             "after_stratified_sample"]
    vals = [survivors[k] for k in order]
    return (vals == sorted(vals, reverse=True) and vals[-1] > 0
            and len(out_texts) == vals[-1]
            and len(set(out_texts)) == len(out_texts))


def same_as_reference(path: str, value: dict) -> bool:
    """True when ``value`` equals the reference stored at ``path``; the
    first run of a seed stores it."""
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(value, fh, sort_keys=True)
        os.replace(tmp, path)
        return True
    with open(path) as fh:
        return json.load(fh) == json.loads(json.dumps(value))


# -- self-test ------------------------------------------------------------------


def self_test(got: dict[str, list], expected: dict[str, list],
              out_ids: list, in_ids: list, lineage: list[dict] | None,
              n_buckets: int) -> list[str]:
    """Feed each check a damaged copy of a real output; returns the names
    of the checks that failed to notice (empty when all is well)."""
    missed = []
    if expected:
        doc = next(iter(expected))
        bad = {d: [list(s) for s in spans] for d, spans in got.items()}
        spans = bad.setdefault(doc, [["text", "", "", 0]])
        spans[0][1] = (spans[0][1] or "") + " damaged"
        if sample_match(bad, expected) == len(expected):
            missed.append("sample_match")
    damaged_ids = out_ids[1:] + out_ids[-1:]   # one lost, one doubled
    if id_failures(damaged_ids, in_ids) == 0:
        missed.append("id_failures")
    if lineage is not None:
        latest = list(latest_lineage(lineage).values())
        if lineage_ok(latest[1:], n_buckets, len(out_ids), len(in_ids)):
            missed.append("lineage_ok")
    if curate_ok({"input_docs": 3, "after_quality_filter": 2,
                  "after_line_dedup": 2, "after_near_dup": 2,
                  "after_decontamination": 2,
                  "after_stratified_sample": 2}, ["a", "a"]):
        missed.append("curate_ok")
    return missed
