"""The admission ladder's truth table.

The gate rejects a document at its first failing rung, in the order
exact > near > pixel > audio > contamination > Gopher > NB, and the
budget gate adds budget_exhausted before admitted.  The fixture only
holds some flag combinations, so these tests feed every combination
of the five flags, the Gopher verdict, the sign of the NB logit and
the budget verdict through the graded reason counts, and compare each
row's reason with a plain first-failing rule written out here.
"""

import itertools

import pytest

from durablestreams_spark.operators import streaming_queries as sq

#: The graded reason columns, in ladder order, as the oracles name them.
FLAG_REASONS = [
    ("exact_dup", "n_exact_dup"),
    ("near_dup", "n_near_dup"),
    ("pixel_dup", "n_pixel_dup"),
    ("audio_dup", "n_audio_dup"),
    ("contaminated", "n_contaminated"),
]
REASONS = [r for _, r in FLAG_REASONS] + ["n_gopher_fail", "n_nb_fail"]

DEC_SCHEMA = (
    "doc_id long, source string, epoch long, n_tok long, "
    "exact_dup boolean, near_dup boolean, pixel_dup boolean, "
    "audio_dup boolean, "
    "contaminated boolean, gopher_keep boolean, nb_logit double, "
    "quality boolean, admitted boolean, alloc_tokens long"
)


def _first_failing(flags, gopher_keep, nb_logit, admitted):
    for (_, reason), flag in zip(FLAG_REASONS, flags):
        if flag:
            return reason
    if not gopher_keep:
        return "n_gopher_fail"
    if nb_logit <= 0:
        return "n_nb_fail"
    return "n_admitted" if admitted else "n_budget_exhausted"


def _truth_table():
    """One decision row per combination, each under its own source so
    every graded group holds exactly one row."""
    rows, want = [], {}
    combos = itertools.product(
        itertools.product([False, True], repeat=5),
        [False, True],
        [-1.5, 0.0, 2.5],
        [False, True],
    )
    for i, (flags, g, logit, budget_ok) in enumerate(combos):
        quality = not any(flags) and g and logit > 0
        admitted = quality and budget_ok
        source = f"s{i:04d}"
        rows.append(
            (i, source, 0, 7, *flags, g, logit, quality, admitted, 100)
        )
        want[source] = _first_failing(flags, g, logit, admitted)
    return rows, want


@pytest.fixture(scope="module")
def decisions(spark):
    rows, want = _truth_table()
    assert len(rows) == 2**5 * 2 * 3 * 2
    return spark.createDataFrame(rows, DEC_SCHEMA), want


def test_decision_schema_is_the_graded_one():
    assert sq._GATE_DEC_SCHEMA == DEC_SCHEMA


def test_budget_report_attributes_every_row_to_its_first_failing_rung(
    decisions,
):
    dec, want = decisions
    got = sq._gate_budget_report(dec).collect()
    assert len(got) == len(want)
    cols = REASONS + ["n_budget_exhausted", "n_admitted"]
    for r in got:
        assert sum(r[c] for c in cols) == r["n_arrivals"] == 1, r
        hit = [c for c in cols if r[c] == 1]
        assert hit == [want[r["source"]]], r


def test_report_reason_columns_match_the_first_failing_rule(decisions):
    from pyspark.sql import functions as F

    dec, want = decisions
    got = (
        dec.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *sq._ladder_reasons(),
            sq._count_if(sq._ladder_keep(sq._LADDER)).alias("n_admitted"),
        )
        .collect()
    )
    assert len(got) == len(want)
    cols = REASONS + ["n_admitted"]
    for r in got:
        assert sum(r[c] for c in cols) == r["n_docs"] == 1, r
        hit = [c for c in cols if r[c] == 1]
        # the report has no budget rung: a quality row is admitted
        expect = want[r["source"]]
        if expect == "n_budget_exhausted":
            expect = "n_admitted"
        assert hit == [expect], r
