"""The 32-char offset codec as Spark column expressions.

Mirrors the driver-side codec (``durablestreams_spark.offsets``) and
the reference's format: 16-digit zero-padded epoch-millis ++ 16-digit
zero-padded counter, lexicographic order == (epoch, counter) order
(``src/stream_manager.ts:76-85``).  Pure built-in expressions —
substring/lpad/concat stay inside whole-stage codegen, so decoding a
trillion offsets is a narrow columnar pass, never a UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..offsets import COUNTER_DIGITS, EPOCH_DIGITS


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def offset_epoch(offset: Column | str) -> Column:
    """Epoch-millis component (first 16 digits) as a LongType column."""
    return F.substring(_col(offset), 1, EPOCH_DIGITS).cast("long")


def offset_counter(offset: Column | str) -> Column:
    """Counter component (last 16 digits) as a LongType column.

    The reference notes counters above ``MAX_SAFE_INTEGER`` would break
    JS consumers (``src/stream_manager.ts:83``); LongType covers the
    full 16 digits here.
    """
    return F.substring(_col(offset), EPOCH_DIGITS + 1, COUNTER_DIGITS).cast("long")


def offset_ts(offset: Column | str) -> Column:
    """Offset's epoch as a TimestampType column — the point-in-time
    index the reference derives from offsets (``README.md:105-108``)."""
    return F.timestamp_millis(offset_epoch(offset))


def make_offset(epoch_ms: Column | str, counter: Column | str) -> Column:
    """Compose an offset from (epoch_ms, counter) columns — the column
    form of ``serializeOffset`` (``src/stream_manager.ts:82-84``)."""
    return F.concat(
        F.lpad(_col(epoch_ms).cast("string"), EPOCH_DIGITS, "0"),
        F.lpad(_col(counter).cast("string"), COUNTER_DIGITS, "0"),
    )
