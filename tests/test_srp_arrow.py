"""Exactness pins for the Arrow-vectorized embedding kernels: the SRP
signature and the multi-centroid dot must be BIT-IDENTICAL to the
sequential folds they replaced, over the real fixture embeddings — the
equality that lets every embedding query keep its oracle hash — and
must map NULL elements and ragged rows the way those folds did."""

import math

import pyarrow as pa
import pytest
from fold_reference import multi_dot, srp_sig
from pyspark.sql import functions as F

from durablestreams_spark.analytics.core import table
from durablestreams_spark.operators.dedup import (
    COSINE_TIGHT_BAND_BITS,
    COSINE_TIGHT_BANDS,
    DIM_T,
    _tight_planes,
    _tight_sig_expr,
)
from durablestreams_spark.operators.similarity import (
    _PLANES,
    _bucket_spark,
    _dot,
    _stack_rows,
    seq_multi_dot_arrow,
)

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )


def test_srp_sig_arrow_matches_fold(spark):
    """Both geometries: the Arrow signature equals the original
    higher-order fold character-for-character on every fixture
    vector."""
    emb = _emb(spark)

    # loose 16-plane reference: the pre-r15 _bucket_spark, verbatim
    loose_ref = F.concat(
        *[
            F.when(
                _dot(
                    "emb",
                    "array("
                    + ", ".join(f"CAST({w} AS DOUBLE)" for w in _PLANES[i])
                    + ")",
                )
                >= 0,
                F.lit("1"),
            ).otherwise(F.lit("0"))
            for i in range(len(_PLANES))
        ]
    )
    # tight 256-plane reference: the pre-r15 _tight_sig_expr, verbatim
    planes_arr = "array(" + ", ".join(f"'{p}'" for p in _tight_planes()) + ")"
    n = COSINE_TIGHT_BANDS * COSINE_TIGHT_BAND_BITS
    tight_ref = F.expr(
        f"""
        concat_ws('', transform(sequence(0, {n - 1}), i ->
          IF(aggregate(sequence(0, {DIM_T - 1}), CAST(0.0 AS DOUBLE),
               (acc, j) -> acc + emb[j] *
                 IF(substring(element_at({planes_arr}, i + 1),
                              j + 1, 1) = '1',
                    CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE)))
             >= 0, '1', '0')))
        """
    )

    rows = emb.select(
        "vec_id",
        loose_ref.alias("loose_want"),
        _bucket_spark().alias("loose_got"),
        tight_ref.alias("tight_want"),
        _tight_sig_expr().alias("tight_got"),
    ).collect()
    assert rows
    for r in rows:
        assert r.loose_got == r.loose_want, r.vec_id
        assert r.tight_got == r.tight_want, r.vec_id


def test_srp_sig_arrow_null_emb_matches_fold(spark):
    """A NULL embedding must produce the all-'0' signature in BOTH
    geometries — exactly what the replaced folds emitted
    (IF(NULL >= 0, '1', '0') evaluates to '0' per plane; r15 ADVICE:
    the kernel used to emit NULL, which would band/bucket NULL-emb
    rows differently from the fold)."""
    df = spark.createDataFrame(
        [(1, None), (2, [float(j) - 31.5 for j in range(DIM_T)])],
        "vec_id long, emb array<double>",
    )
    rows = {
        r.vec_id: r
        for r in df.select(
            "vec_id",
            _bucket_spark().alias("loose"),
            _tight_sig_expr().alias("tight"),
        ).collect()
    }
    assert rows[1].loose == "0" * len(_PLANES)
    assert rows[1].tight == "0" * (COSINE_TIGHT_BANDS * COSINE_TIGHT_BAND_BITS)
    # the live row still gets a real signature
    assert set(rows[2].loose) <= {"0", "1"} and "1" in rows[2].tight


def test_simhash_and_nb_logit_null_propagation(spark):
    """NULL text -> NULL simhash (the replaced SQL aggregate over a
    NULL array returns NULL) and NULL feats -> NULL nb_logit (the
    replaced decimal fold propagated NULL); zero-token/empty rows
    keep their old values (simhash 0 / prior-only logit)."""
    from durablestreams_spark.operators.dedup import simhash_expr
    from durablestreams_spark.operators.streaming_queries import (
        _nb_logit_col,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "alpha beta alpha")],
        "doc_id long, text string",
    )
    sh = {
        r.doc_id: r.sh
        for r in docs.select(
            "doc_id", simhash_expr("text").alias("sh")
        ).collect()
    }
    assert sh[1] is None
    assert sh[2] == 0
    assert sh[3] is not None and sh[3] != 0

    feats = spark.createDataFrame(
        [(1, None), (2, []), (3, ["alpha", "beta"])],
        "doc_id long, feats array<string>",
    )
    lam = {0: 0.5}
    got = {
        r.doc_id: r.logit
        for r in feats.select(
            "doc_id", _nb_logit_col(F.col("feats"), lam, 1.25).alias("logit")
        ).collect()
    }
    assert got[1] is None
    assert got[2] == 1.25  # prior-only for genuinely empty arrays
    assert got[3] is not None


def _same(got, want):
    """Bit-for-bit list equality, NULL for NULL and NaN for NaN."""
    assert got is not None and len(got) == len(want), (got, want)
    for g, w in zip(got, want):
        if w is None:
            assert g is None, (got, want)
        elif math.isnan(w):
            assert g is not None and math.isnan(g), (got, want)
        else:
            assert g == w, (got, want)


def test_seq_multi_dot_arrow_matches_fold(spark):
    """The K-centroid dot equals K pure-Python sequential folds bit
    for bit on every fixture vector, against K fixture centroids."""
    emb = _emb(spark)
    cents = [
        list(r.emb)
        for r in emb.where(F.col("vec_id") % 37 == 0).orderBy("vec_id").collect()
    ]
    assert len(cents) >= 8
    rows = emb.select(
        "emb", seq_multi_dot_arrow(F.col("emb"), cents).alias("got")
    ).collect()
    assert rows
    for r in rows:
        assert list(r.got) == multi_dot(list(r.emb), cents)


def _malformed(spark, width):
    """A NULL element, a real NaN, a clean row and a NULL row."""
    base = [float(j) - 31.5 for j in range(width)]
    return spark.createDataFrame(
        [
            (1, base[:5] + [None] + base[6:]),
            (2, base[:5] + [float("nan")] + base[6:]),
            (3, base),
            (4, None),
        ],
        "vec_id long, emb array<double>",
    )


def test_srp_sig_arrow_null_element_matches_fold(spark):
    """A NULL element makes every plane sum NULL, so both geometries
    give the all-'0' signature, as the replaced folds did; a real NaN
    keeps its fold result (every plane '1')."""
    tight_signs = [
        [1.0 if c == "1" else -1.0 for c in p] for p in _tight_planes()
    ]
    rows = {
        r.vec_id: r
        for r in _malformed(spark, DIM_T)
        .select(
            "vec_id",
            "emb",
            _bucket_spark().alias("loose"),
            _tight_sig_expr().alias("tight"),
        )
        .collect()
    }
    n_tight = COSINE_TIGHT_BANDS * COSINE_TIGHT_BAND_BITS
    assert rows[1].loose == "0" * len(_PLANES)
    assert rows[1].tight == "0" * n_tight
    assert rows[2].loose == "1" * len(_PLANES)
    assert rows[2].tight == "1" * n_tight
    for r in rows.values():
        assert r.loose == srp_sig(r.emb, _PLANES), r.vec_id
        assert r.tight == srp_sig(r.emb, tight_signs), r.vec_id


def test_seq_multi_dot_arrow_null_element_matches_fold(spark):
    """A NULL element, or a NULL row, gives K NULL dots (each fold's
    sum is NULL); a real NaN gives K NaN dots."""
    cents = [[1.0] * 64, [-0.5] * 64, [0.0] * 64]
    rows = {
        r.vec_id: r
        for r in _malformed(spark, 64)
        .select("vec_id", "emb", seq_multi_dot_arrow(F.col("emb"), cents).alias("d"))
        .collect()
    }
    assert list(rows[1].d) == [None] * 3
    assert list(rows[4].d) == [None] * 3
    assert all(math.isnan(x) for x in rows[2].d)
    for r in rows.values():
        _same(list(r.d), multi_dot(r.emb, cents))


def test_stack_rows_rejects_ragged_row(spark):
    """A non-NULL row of the wrong length raises ValueError naming its
    length and the kernel's width, directly and through a kernel."""
    ok = _stack_rows(pa.array([[1.0, 2.0], None, [3.0, None]]), 2)
    assert ok[0].tolist() == [0, 2]
    assert ok[2].tolist() == [[False, False], [False, True]]
    with pytest.raises(ValueError, match="has 3 elements, expected 2"):
        _stack_rows(pa.array([[1.0, 2.0], None, [1.0, 2.0, 3.0]]), 2)
    df = spark.createDataFrame(
        [(1, [1.0] * 64), (2, [1.0] * 63)], "vec_id long, emb array<double>"
    )
    with pytest.raises(Exception, match="has 63 elements, expected 64"):
        df.select(_bucket_spark()).collect()
