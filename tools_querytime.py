"""Time declared queries outside a full bench run, with one warm-up +
min-of-k loop for every mode.

Usage:
    python tools_querytime.py time <sf_dir> <k> <query> [query...]
    python tools_querytime.py noop <sf_dir> <k> <query> [query...]
    python tools_querytime.py explain <sf_dir> <outdir> <suffix> <query>...
    SPARK_GRAFT_CPUS=N python tools_querytime.py scaling [out.json]

`time` and `noop` warm each plan once at the sibling sf0.001 fixture
(codegen), then print min/median/max of k timed passes: `time` ends
each pass with `.count()` (bench.py's action), `noop` with the noop
sink, so column pruning can't hide work.  `explain` writes
<outdir>/<query>_<suffix>.txt (`explain("formatted")`).

`scaling` times the heavy queries in SCALING_QUERIES at sf1
(`tools_make_sf1.py` builds /tmp/spark_graft_sf1) at the current
SPARK_GRAFT_CPUS, warm pass on the sf1 fixture itself (artifacts),
then min of 2, and prints one JSON line.  Run it at two core counts:
the time ratio tells parallelizing queries (near the core ratio) from
fixed-cost, driver-bound ones (near 1).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from durablestreams_spark.analytics.core import all_queries  # noqa: E402
from durablestreams_spark.session import get_spark  # noqa: E402

SF1_DIR = "/tmp/spark_graft_sf1"

SCALING_QUERIES = [
    # relational / window / join / text-batch (compute-parallel shapes)
    "q9_product_profit",
    "q18_large_volume_customers",
    "dedup_minhash_lsh_pairs",
    "text_tfidf_top_term",
    "window_tumbling_daily",
    "join_asof_purchase_prior_click",
    "dedup_span_contamination",
    "text_quality_classifier_nb",
    "pipeline_curate_v3",
    "pipeline_curate_v4",
    "dedup_embedding_cosine",
    "similarity_pq_topk",
    "similarity_knn_brute",
    "text_bpe_tokenize",
    # streaming / live topologies (expected driver-bound: micro-batch
    # planning+commit per trigger does not parallelize)
    "streaming_dedup_neardup",
    "streaming_ingest_gate",
    "streaming_token_budget_monitor",
]


def timed_runs(spark, spec, sf_dir: str, k: int, warm_dir: str, noop: bool = False):
    """One warm pass of ``spec`` over ``warm_dir``, then ``k`` timed
    passes over ``sf_dir``; returns (seconds per pass, last row count,
    -1 for the noop sink)."""
    spec.fn(spark, warm_dir).count()
    times, rows = [], -1
    for _ in range(k):
        spark.sparkContext.setJobDescription(f"querytime:{spec.name}")
        t0 = time.perf_counter()
        df = spec.fn(spark, sf_dir)
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            rows = df.count()
        times.append(time.perf_counter() - t0)
    return times, rows


def explain(spark, specs, sf_dir: str, outdir: str, suffix: str, names) -> None:
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path} ({len(plan)} bytes)")


def scaling(spark, specs, out_path: str | None) -> None:
    res: dict[str, float | None] = {}
    for name in SCALING_QUERIES:
        try:
            times, _ = timed_runs(spark, specs[name], SF1_DIR, 2, SF1_DIR)
            res[name] = round(min(times), 3)
            print(f"# {name}: {res[name]}s runs={[round(t, 2) for t in times]}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            res[name] = None
            print(f"# FAILED {name}: {e}", file=sys.stderr)
    line = {
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "sf1_times": res,
        "total": round(sum(v for v in res.values() if v is not None), 2),
        "failed": sorted(n for n, v in res.items() if v is None),
    }
    print(json.dumps(line))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(line, f, indent=1)


def main() -> None:
    mode = sys.argv[1]
    spark = get_spark(f"querytime_{mode}")
    specs = all_queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if mode == "scaling":
        scaling(spark, specs, sys.argv[2] if len(sys.argv) > 2 else None)
        return
    sf_dir = sys.argv[2]
    if mode == "explain":
        explain(spark, specs, sf_dir, sys.argv[3], sys.argv[4], sys.argv[5:])
        return
    k, names = int(sys.argv[3]), sys.argv[4:]
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        try:
            times, rows = timed_runs(spark, specs[name], sf_dir, k, warm_dir, noop=mode == "noop")
        except Exception as e:  # noqa: BLE001
            print(f"# FAILED {name}: {e}")
            continue
        print(
            f"{name}: min={min(times):.3f} med={statistics.median(times):.3f}"
            f" max={max(times):.3f} rows={rows} runs="
            f"{[round(t, 3) for t in times]}"
        )


if __name__ == "__main__":
    main()
