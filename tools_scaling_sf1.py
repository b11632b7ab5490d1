"""Round-16 sf1 scaling probe (VERDICT r15 task 7): time a set of
heavy sf1 queries at the CURRENT core count (SPARK_GRAFT_CPUS) with
the bench's min-of-k warm methodology, print one JSON line.  Run it
once at 32 and once at 8 cores; the ratio t8/t32 distinguishes
parallelizing queries (→4) from fixed-cost/driver-bound ones (→1).
The sf0.1 probe the driver runs is fixed-cost noise at these sizes
(r15 VERDICT: no ratio near the core ratio anywhere); sf1 is where
the compute is large enough to show parallelism.

Usage: SPARK_GRAFT_CPUS=N python tools_scaling_sf1.py [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from durablestreams_spark.analytics.core import all_queries  # noqa: E402
from durablestreams_spark.session import get_spark  # noqa: E402

QUERIES = [
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


def main() -> None:
    sf1_dir = "/tmp/spark_graft_sf1"
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    spark = get_spark("scaling_sf1")
    specs = all_queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    res: dict[str, float] = {}
    for name in QUERIES:
        try:
            times = []
            for _ in range(3):  # run 0 = warm (codegen/artifacts)
                t0 = time.perf_counter()
                specs[name].fn(spark, sf1_dir).count()
                times.append(time.perf_counter() - t0)
            res[name] = round(min(times[1:]), 3)
            print(f"# {name}: {res[name]}s runs={[round(t,2) for t in times]}",
                  file=sys.stderr)
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


if __name__ == "__main__":
    main()
