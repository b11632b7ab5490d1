"""Parity pin for pipeline_curate_v4's r16 switch to the persisted
contamination flag index: the artifact must hold EXACTLY the doc_ids
the in-plan recompute produced.  The graded datasheet itself is
checked against the DuckDB oracle in tests/test_queries_oracle.py."""

from pyspark.sql import functions as F

from durablestreams_spark.analytics.core import table
from durablestreams_spark.operators.pipeline_llm import (
    _BENCH_MOD,
    _shingle5_arrays,
)
from durablestreams_spark.operators.streaming_queries import (
    _contamination_flag_index,
)

SF_DIR = "/root/testdata/sf0.001"


def _live_cflag(spark):
    docs = table(spark, SF_DIR, "documents")
    bench_sh = (
        _shingle5_arrays(docs.where(F.col("doc_id") % _BENCH_MOD == 0))
        .select(F.explode("shs").alias("sh"))
        .distinct()
    )
    return (
        _shingle5_arrays(docs)
        .select("doc_id", F.explode("shs").alias("sh"))
        .join(F.broadcast(bench_sh), "sh")
        .select("doc_id")
        .distinct()
    )


def test_curate_v4_flag_index_parity(spark):
    want = sorted(r.doc_id for r in _live_cflag(spark).collect())
    got = sorted(
        r.doc_id
        for r in _contamination_flag_index(spark, SF_DIR).collect()
    )
    assert want and got == want
