"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB, compare row count + column names + order-insensitive value
hash.  Every OK/rows line ends with the Spark-side value hash, so two
runs (e.g. before and after a change) can be diffed query by query.
Usage: python scripts/check_contract.py [sf_dir]"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple, dict, set)):
        # the external driver's canonicalizer factorizes cells via pandas
        # and DIES on container cells; fail loudly here so the local gate
        # never passes something the driver would error on
        raise TypeError(
            f"container-typed cell {type(v).__name__} — the driver "
            f"canonicalizer cannot hash it; project to a scalar digest")
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main(sf_dir: str) -> int:
    import __spark_entry__ as entrymod
    from ocr_proofreader_spark.jobs.proofread_job import build_session

    spark = build_session("contract-check", master="local[8]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t + '.parquet')}'")

    qs = dict(entrymod.queries())
    oracles = dict(entrymod.oracle_sql())
    # local-gate-only extras: operators past the driver's 50-query cap,
    # verified with the identical bit-exact comparison here
    if hasattr(entrymod, "extra_queries"):
        n_driver = len(qs)
        qs.update(entrymod.extra_queries())
        oracles.update(entrymod.extra_oracle_sql())
        print(f"checking {n_driver} driver queries "
              f"+ {len(qs) - n_driver} local-gate extras")
    failures = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
            spark_hash = value_hash(cols, rows)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(rows)} rows ({time.time()-t0:.1f}s)"
                  f" [rows-only] {spark_hash}")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            oracle_hash = value_hash(ocols, orows)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {str(e).splitlines()[0]}")
            continue
        ok_count = len(rows) == len(orows)
        ok_cols = sorted(cols) == sorted(ocols)
        ok_hash = ok_cols and spark_hash == oracle_hash
        status = "OK   " if (ok_count and ok_cols and ok_hash) else "FAIL "
        if status.startswith("FAIL"):
            failures.append(name)
        col_info = "Y" if ok_cols else f"{sorted(cols)} != {sorted(ocols)}"
        hash_info = "Y" if ok_hash else "N"
        print(f"{status} {name}: rows {len(rows)}/{len(orows)}"
              f" cols={col_info} hash={hash_info} {spark_hash}"
              f" ({time.time()-t0:.1f}s)")
    spark.stop()
    print(f"\n{len(qs) - len(failures)}/{len(qs)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else
                  "/root/testdata/sf0.01"))
