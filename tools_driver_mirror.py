"""Local mirror of the driver's correctness gate.

Runs every `queries()` entry on a VANILLA SparkSession at sf0.01 and
compares row count + column set + (column-sorted, row-sorted) values
against the DuckDB oracle — the same comparison the driver applies.
Prints one JSON line per query plus a summary.
"""

import json
import math
import os
import sys
import traceback

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

from __spark_entry__ import queries, oracle_sql  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck(sql):
    con = duckdb.connect()
    timer = None
    try:
        threads = os.environ.get("MIRROR_DUCK_THREADS")
        if threads:
            con.sql(f"SET threads = {int(threads)}")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
        # Optional per-oracle wall-clock guard (seconds): one
        # pathological oracle at a large SF must not stall the whole
        # mirror — an interrupted oracle records as a failure with a
        # visible err instead of hanging the run.
        budget = os.environ.get("MIRROR_ORACLE_TIMEOUT")
        if budget:
            import threading

            timer = threading.Timer(float(budget), con.interrupt)
            timer.start()
        rel = con.sql(sql)
        return list(rel.columns), rel.fetchall()
    finally:
        if timer is not None:
            timer.cancel()
        con.close()


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            elif hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
                v = round(float(v), 9)
            vals.append((v is None, str(v)))
        out.append(tuple(vals))
    out.sort()
    return out


def main():
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('MIRROR_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", os.environ.get("MIRROR_CPUS", "8"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory", os.environ.get("MIRROR_DRIVER_MEM", "8g")
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    oracles = oracle_sql()
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    # Validate the include list UP FRONT: a typo'd name silently
    # skipped would yield a green summary that omits the requested
    # query (the exact wrong-confidence artifact a time-boxed run
    # can't afford).  Dedupe while preserving order so a repeated
    # name doesn't run (and count) twice.
    if only:
        unknown = [n for n in only if n not in qs]
        if unknown:
            raise SystemExit(
                f"unknown queries in include list: {','.join(unknown)}"
            )
        only = list(dict.fromkeys(only))
    n_pass = n_fail = 0
    failures = []
    # An explicit include list runs in ITS order (lets a time-boxed
    # run put the highest-value queries first); the full sweep stays
    # alphabetical.
    for name in (only if only else sorted(qs)):
        rec = {"q": name}
        try:
            import time as _time

            _t0 = _time.perf_counter()
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            # Engine wall time to full materialization — makes every
            # full-mirror artifact double as a per-query timing record
            # (the per-round evidence VERDICT r8 asked for), at mirror
            # concurrency (MIRROR_CPUS), not the bench's local[32].
            rec["spark_sec"] = round(_time.perf_counter() - _t0, 2)
            rec["spark_rows"] = len(srows)
            if name in oracles:
                dcols, drows = duck(oracles[name])
                rec["oracle_rows"] = len(drows)
                rec["schema_match"] = sorted(scols) == sorted(dcols)
                rec["rows_match"] = len(srows) == len(drows)
                rec["hash_match"] = (
                    rec["schema_match"]
                    and normalize(srows, scols) == normalize(drows, dcols)
                )
                ok = rec["hash_match"] and len(srows) > 0
            else:
                rec["oracle"] = None
                ok = len(srows) >= 0
            rec["ok"] = bool(ok)
        except Exception:
            rec["ok"] = False
            rec["err"] = traceback.format_exc().splitlines()[-1]
        if rec["ok"]:
            n_pass += 1
        else:
            n_fail += 1
            failures.append(name)
        print(json.dumps(rec), flush=True)
    print(
        json.dumps({"summary": True, "pass": n_pass, "fail": n_fail,
                    "failures": failures}),
        flush=True,
    )


if __name__ == "__main__":
    main()
