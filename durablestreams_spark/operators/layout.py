"""Multi-dimensional data layout: Z-order clustering for segment files.

A log compacted in offset order prunes perfectly on time but not at
all on a second column (a user_id range predicate touches EVERY file).
Z-ordering interleaves the bits of several columns into one sort key,
so files/row-groups become min/max-tight on ALL participating columns
at once — the standard lakehouse technique (Delta ``OPTIMIZE ZORDER``,
Iceberg sort orders) for 100 TB scans with more than one selective
predicate.  Everything here is column expressions: bucketize each
column to a 16-bit rank, interleave bits with a fixed fold, range-
partition + locally sort on the z-value, write.  The only driver-side
work is the O(cols) min/max bounds aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Bits per dimension in the interleaved key (16 -> 2 cols fit a long).
Z_BITS = 16


def _bucketize(col: str, lo, hi) -> F.Column:
    """Scale a numeric column to an integer rank in [0, 2^Z_BITS - 1].
    Constant columns (hi == lo) collapse to bucket 0."""
    span = float(hi) - float(lo)
    if span <= 0:
        return F.lit(0).cast("long")
    return F.least(
        F.lit((1 << Z_BITS) - 1),
        ((F.col(col).cast("double") - float(lo)) * ((1 << Z_BITS) - 1) / span)
        .cast("long"),
    )


def z_value_expr(cols_buckets: list[str], ncols: int) -> str:
    """SQL expression interleaving pre-bucketized long columns (names
    in ``cols_buckets``): bit i of column j -> position i*ncols + j."""
    terms = []
    for j, name in enumerate(cols_buckets):
        terms.append(
            f"aggregate(sequence(0, {Z_BITS - 1}), 0L, "
            f"(acc, i) -> acc + shiftleft((shiftright({name}, i) & 1L), "
            f"i * {ncols} + {j}))"
        )
    return " + ".join(terms)


def zorder_write(
    df: DataFrame, cols: list[str], path: str, n_files: int
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered by the
    Z-order of ``cols``: range-partition on the z-value (co-locates
    z-adjacent rows) and sort within each file so row-group min/max
    stats are tight on every participating column."""
    bounds = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    ).collect()[0]
    with_buckets = df
    bucket_names = []
    for c in cols:
        bn = f"__zb_{c}"
        with_buckets = with_buckets.withColumn(
            bn, _bucketize(c, bounds[f"lo_{c}"], bounds[f"hi_{c}"])
        )
        bucket_names.append(bn)
    zed = with_buckets.withColumn(
        "__z", F.expr(z_value_expr(bucket_names, len(cols)))
    ).drop(*bucket_names)
    (
        zed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _zorder_dir(spark, sf_dir: str) -> str:
    """events re-clustered by Z(ts, user_id), written ONCE per fixture
    (marker-cached like the multimodal blob corpus)."""
    import os

    from ..analytics.core import table
    from .cache_marker import build_once, cache_root

    def build(root):
        ev = table(spark, sf_dir, "events").select(
            "event_id", "user_id", F.unix_micros("ts").alias("tsu"), "value"
        )
        zorder_write(ev, ["tsu", "user_id"], os.path.join(root, "events_z"), 32)

    root = build_once(
        cache_root("/tmp/durablestreams_zorder_v1", sf_dir), sf_dir, build
    )
    return os.path.join(root, "events_z")


from ..analytics.core import query, table  # noqa: E402


@query(
    "layout_zorder_scan",
    """
    WITH b AS (
        SELECT min(user_id) AS ulo, max(user_id) AS uhi,
               min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi
        FROM events
    ),
    f AS (
        SELECT e.* FROM events e, b
        WHERE e.user_id BETWEEN b.ulo + ((b.uhi - b.ulo) * 45) // 100
                            AND b.ulo + ((b.uhi - b.ulo) * 55) // 100
          AND epoch_us(e.ts) BETWEEN b.tlo + ((b.thi - b.tlo) * 45) // 100
                                 AND b.tlo + ((b.thi - b.tlo) * 55) // 100
    )
    SELECT count(*) AS n, round(sum(value), 2) AS sum_value,
           CAST(min(event_id) AS BIGINT) AS min_event
    FROM f
    """,
    doc="Scan over the Z-order clustered copy of events (built once, "
    "marker-cached) with a ~10% range predicate on BOTH time and "
    "user_id. Correctness: the clustered copy must agree with the raw "
    "table under the same filter (the oracle's side). Performance: "
    "both predicates push into the parquet scan and the interleaved "
    "layout makes row-group stats selective on each (see "
    "tests/test_zorder_layout.py for the measured pruning fractions); "
    "a time-sorted log reads every file for the user_id half of this "
    "predicate.",
)
def layout_zorder_scan(spark, sf_dir):
    d = _zorder_dir(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.min("user_id").alias("ulo"),
        F.max("user_id").alias("uhi"),
        F.min(F.unix_micros("ts")).alias("tlo"),
        F.max(F.unix_micros("ts")).alias("thi"),
    ).collect()[0]
    u_a = b.ulo + (b.uhi - b.ulo) * 45 // 100
    u_b = b.ulo + (b.uhi - b.ulo) * 55 // 100
    t_a = b.tlo + (b.thi - b.tlo) * 45 // 100
    t_b = b.tlo + (b.thi - b.tlo) * 55 // 100
    z = spark.read.parquet(d).where(
        F.col("user_id").between(u_a, u_b) & F.col("tsu").between(t_a, t_b)
    )
    return z.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("event_id").alias("min_event"),
    )


#: Bucket count for the co-located join demo.  At 100 TB this is the
#: knob that trades file count against per-bucket size; both sides
#: must agree on it for the exchange-free join.
N_BUCKETS = 8


def _ddl_schema(df) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)


def _bucketed_tables(spark, sf_dir: str) -> tuple[str, str]:
    """orders + lineitem written ONCE per fixture as bucketed parquet
    (bucketBy + sortBy on the join key, marker-cached under /tmp), then
    registered in the CURRENT session's catalog as external bucketed
    tables via DDL.  The files carry Spark's bucket-id naming, and the
    ``CLUSTERED BY`` DDL is what lets a fresh session trust the layout
    — bucketing metadata lives in the catalog, not the files."""
    import os

    from ..analytics.core import table
    from .cache_marker import build_once, cache_root

    root = cache_root("/tmp/durablestreams_bucketed_v1", sf_dir)
    sf_tag = os.path.basename(root).replace(".", "_")
    specs = {
        "orders": ("o_orderkey", os.path.join(root, "orders_b")),
        "lineitem": ("l_orderkey", os.path.join(root, "lineitem_b")),
    }

    def build(root):
        for src, (key, path) in specs.items():
            tmp = f"ds_build_{src}_{sf_tag}"
            spark.sql(f"DROP TABLE IF EXISTS {tmp}")
            (
                table(spark, sf_dir, src)
                .write.bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .option("path", path)
                .mode("overwrite")
                .saveAsTable(tmp)
            )
            # external table: DROP removes only the catalog entry, the
            # bucket-id-named files stay for other sessions.
            spark.sql(f"DROP TABLE {tmp}")

    build_once(root, sf_dir, build, name="orders")
    names = {}
    for src, (key, path) in specs.items():
        name = f"ds_bucketed_{src}_{sf_tag}"
        schema = _ddl_schema(table(spark, sf_dir, src))
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({schema}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {N_BUCKETS} BUCKETS "
            f"LOCATION '{path}'"
        )
        names[src] = name
    return names["orders"], names["lineitem"]


@query(
    "layout_bucketed_join",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc=f"Co-located join over bucketed tables: orders and lineitem "
    f"are pre-bucketed INTO {N_BUCKETS} BUCKETS on the join key "
    "(bucketBy + sortBy, built once and registered via CLUSTERED BY "
    "DDL), so the fact-fact join runs with NO exchange on either side "
    "— the layout-level answer to the biggest shuffle in any TPC-H-"
    "shaped workload, and the pattern that keeps a 100 TB fact-fact "
    "join off the network entirely (plan-audited in "
    "tests/test_plan_audit.py: zero exchanges under the join vs two "
    "for the plain-parquet plan). Correctness: must equal the same "
    "join over the raw tables.",
)
def layout_bucketed_join(spark, sf_dir):
    ot, lt = _bucketed_tables(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
        FROM {ot} JOIN {lt} ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


def _day_partitioned_events(spark, sf_dir: str) -> str:
    """events re-written as day-partitioned parquet (hive layout,
    marker-cached once per fixture) — the physical layout that lets a
    dim-side filter prune fact partitions at RUNTIME via dynamic
    partition pruning."""
    import os

    from ..analytics.core import table
    from .cache_marker import build_once, cache_root

    def build(root):
        ev = table(spark, sf_dir, "events").withColumn(
            "day", F.date_format("ts", "yyyy-MM-dd")
        )
        ev.drop("ts").write.partitionBy("day").parquet(
            os.path.join(root, "events_by_day")
        )

    root = build_once(
        cache_root("/tmp/durablestreams_daypart_v1", sf_dir), sf_dir, build
    )
    return os.path.join(root, "events_by_day")


@query(
    "layout_dpp_campaign_days",
    """
    WITH days AS (
        SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day FROM events
    ),
    sel AS (
        SELECT day FROM (
            SELECT day, row_number() OVER (ORDER BY day) AS rn FROM days)
        WHERE rn IN (6, 11, 16)
    )
    SELECT e.day, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 4) AS sum_value
    FROM (SELECT strftime(ts, '%Y-%m-%d') AS day, value FROM events) e
    JOIN sel ON sel.day = e.day
    GROUP BY e.day ORDER BY e.day
    """,
    doc="Dynamic partition pruning: the fact side is the day-"
    "partitioned events copy, the dim side a 3-day 'campaign' "
    "selection only known after a runtime subquery — Catalyst "
    "broadcasts the dim AND injects its day set into the fact scan's "
    "PartitionFilters (dynamicpruning expression, plan-audited), so "
    "only 3 of the day directories are read. At 100 TB "
    "date-partitioned fact tables this is the difference between "
    "scanning 3 days and scanning 3 years when the date filter lives "
    "in a dimension table. Oracle: the same join computed from the "
    "raw table.",
)
def layout_dpp_campaign_days(spark, sf_dir):
    from pyspark.sql import Window as W

    d = _day_partitioned_events(spark, sf_dir)
    part = spark.read.parquet(d)
    days = part.select("day").distinct()
    sel = (
        days.withColumn("rn", F.row_number().over(W.orderBy("day")))
        .where(F.col("rn").isin(6, 11, 16))
        .select("day")
    )
    return (
        part.join(F.broadcast(sel), "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        # The hive-partition read infers `day` as DATE; the join and
        # group run on that (so DPP keys stay partition-typed) and only
        # the OUTPUT is formatted, per the repo's dates-as-strings
        # output policy (analytics.core docstring).
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_events",
            "sum_value",
        )
        .orderBy("day")
    )
