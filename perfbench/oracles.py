"""DuckDB oracles for corpus_batch, run as a process of their own so
their memory stays out of the measured process tree.

    python3 perfbench/oracles.py <request.json> <answer.json>

``request.json``: {"corpus_dir": ..., "queries": {name: sql}}.
``answer.json``: {name: [columns, digest, rows]} per query DuckDB could
run; a query it could not run is left out (its check then fails).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402

TABLES = ("events", "documents", "embeddings")


def answer(corpus_dir, queries, threads=2):
    import duckdb

    out = {}
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {threads}")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        for name, sql in queries.items():
            try:
                rel = con.sql(sql)
                cols = list(rel.columns)
                out[name] = [cols, *checks.rows_hash(cols, rel.fetchall())]
            except duckdb.Error as exc:
                print(f"oracle {name}: {exc}", file=sys.stderr)
    finally:
        con.close()
    return out


def main(argv):
    with open(argv[1]) as f:
        req = json.load(f)
    out = answer(req["corpus_dir"], req["queries"])
    tmp = argv[2] + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.rename(tmp, argv[2])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
