"""The banded near-dup index family (streaming_queries.BandedFamily).

SimHash text signatures, gate-image dHash keys and audio fingerprints
share one definition of band rows, matching, refresh and flag index.
These tests pin what the three families must keep in common: the
shared per-batch matcher is exact against an all-pairs reference, and
every persisted artifact (and the exact-hash index beside them) keeps
its cache identity and its rows, so caches built by earlier versions
stay valid.
"""

import dataclasses
import itertools
import os
import random

import pytest
from conftest import sf_dir

from durablestreams_spark.analytics.core import all_queries
from durablestreams_spark.operators import streaming_queries as sq

SF_DIR = sf_dir("0.001")

_PX = "ham3:b4x16:w18x16:m196:n60:e11.3:md5raster"
_AU = "ham3:b4x16:fr65:amp200:n60:m5:ne4:ge7.3:re16000.4"

#: (root base, fixture name, params) of every near-dup artifact and of
#: the exact-hash index, as written by the version that first built
#: them.  A change here silently rebuilds (or orphans) every user's
#: cached copy.
_CACHE_IDENTITY = [
    ("/tmp/durablestreams_neardup_v1", "documents", "simhash32:bands4x8:v1"),
    (
        "/tmp/durablestreams_ndlive_base_v1",
        "documents",
        "simhash32:base<cc:ndlive:v1",
    ),
    (
        "/tmp/durablestreams_pxlive_base_v1",
        "documents",
        f"dhash64:base<cc:ndlive:{_PX}:v1",
    ),
    (
        "/tmp/durablestreams_aulive_base_v1",
        "documents",
        f"audiofp64:base<cc:ndlive:{_AU}:v1",
    ),
    (
        "/tmp/durablestreams_ndrefresh_v1",
        "documents",
        "simhash32:base<cc:ndlive:rm97:v1",
    ),
    (
        "/tmp/durablestreams_pxrefresh_v1",
        "documents",
        f"dhash64:base<cc:ndlive:{_PX}:rm89:v1",
    ),
    (
        "/tmp/durablestreams_aurefresh_v1",
        "documents",
        f"audiofp64:base<cc:ndlive:{_AU}:rm83:v1",
    ),
    ("/tmp/durablestreams_ndflag_v1", "documents", "simhash32:flag:ham3:v1"),
    ("/tmp/durablestreams_pxflag_v1", "documents", f"dhash64:flag:{_PX}:v1"),
    (
        "/tmp/durablestreams_auflag_v1",
        "documents",
        f"audiofp64:flag:{_AU}:v1",
    ),
    ("/tmp/durablestreams_hashidx_v1", "documents", "md5:minid:v1"),
    (
        "/tmp/durablestreams_hashidx_base_v1",
        "documents",
        "md5:minid:base<cc:ndlive:v1",
    ),
]


class _Recorded(Exception):
    pass


def test_cache_identity_of_every_neardup_artifact(spark, monkeypatch):
    """Record the (root base, name, params) each near-dup artifact
    hands to build_once — the build itself is skipped — and compare
    with the literal identities above."""
    seen = []

    def record(root, sf_dir, build, *, name, params):
        assert os.path.basename(root) == os.path.basename(sf_dir)
        seen.append((os.path.dirname(root), name, params))
        raise _Recorded

    monkeypatch.setattr(sq, "build_once", record)
    queries = all_queries()
    calls = [
        lambda: sq._band_index_path(
            sq.SIMHASH_FAMILY, spark, SF_DIR, base=False
        )
    ]
    calls += [
        lambda fam=fam: sq._band_index_path(fam, spark, SF_DIR, base=True)
        for fam in sq.BANDED_FAMILIES
    ]
    calls += [
        lambda q=q: queries[q].fn(spark, SF_DIR)
        for q in (
            "dedup_neardup_index_refresh",
            "multimodal_pixel_index_refresh",
            "multimodal_audio_index_refresh",
        )
    ]
    calls += [
        lambda fam=fam: sq._flag_index(fam, spark, SF_DIR)
        for fam in sq.BANDED_FAMILIES
    ]
    calls += [
        lambda base=base: sq._exact_hash_index(spark, SF_DIR, base)
        for base in (False, True)
    ]
    for call in calls:
        with pytest.raises(_Recorded):
            call()
    assert seen == _CACHE_IDENTITY


def test_full_simhash_index_rows_match_the_batch_signatures(spark):
    """The whole-corpus SimHash index builds through the family's
    _doc_bands path; its rows and types must equal the band rows of
    the batch dedup_simhash aggregate it was first built from, so an
    index cached by that build stays valid."""
    from durablestreams_spark.analytics.core import table
    from durablestreams_spark.operators.dedup import dedup_simhash

    fam = sq.SIMHASH_FAMILY
    docs = table(spark, SF_DIR, "documents")
    got = sq._doc_bands(fam, docs).select(*fam.index_cols)
    want = sq._band_rows(fam, dedup_simhash(spark, SF_DIR)).select(
        *fam.index_cols
    )
    assert got.dtypes == want.dtypes
    rows = sorted(map(tuple, got.collect()))
    assert rows and rows == sorted(map(tuple, want.collect()))


# -- exactness of the shared per-batch matcher ------------------------------

def _four_16bit_keys(sig):
    return {f"k{b}": (sig >> (16 * b)) & 0xFFFF for b in range(4)}


#: Per family: signature width in bits, and how a signature splits
#: into the family's key columns.
_GEOMETRY = {
    "SIMHASH_FAMILY": (32, lambda sig: {"simhash": sig}),
    "PIXEL_FAMILY": (64, _four_16bit_keys),
    "AUDIO_FAMILY": (64, _four_16bit_keys),
}


def _synthetic_signatures(width, seed=7):
    """(doc_id, variant, signature) rows: random seeds, each with
    near-copies at 0..5 flipped bits — flips inside one band keep the
    other bands agreeing, so many pairs match on several bands; 4-5
    flips stay above every family's bound.  Variant j > 0 of a doc is
    a second recording of the same doc (audio only)."""
    rng = random.Random(seed)
    rows = []
    doc = 10
    for _ in range(8):
        base = rng.getrandbits(width)
        for r in (0, 1, 2, 3, 3, 4, 5):
            band_bits = width // 4
            lo = rng.randrange(4) * band_bits
            if r <= 2:
                # all flips in one band: the other three still agree
                pos = rng.sample(range(lo, lo + band_bits), r)
            else:
                pos = rng.sample(range(width), r)
            sig = base
            for p in pos:
                sig ^= 1 << p
            rows.append((doc, 0, sig))
            doc += 1
        # one doc carrying two identical recordings plus a perturbed one
        rows += [(doc, 0, base), (doc, 1, base), (doc, 2, base ^ 1)]
        doc += 1
    return rows


@pytest.mark.parametrize("family", sorted(_GEOMETRY))
def test_shared_batch_matches_equal_all_pairs_truth(spark, family):
    """The per-batch match step (index arm + intra-batch arm) returns
    EXACTLY the pairs an all-pairs hamming <= max_ham sweep finds
    between (batch x index) and (batch x batch) — each pair once,
    oriented doc_id > o_doc_id, never two members of one doc."""
    from durablestreams_spark.operators.multimodal import AUDIO_OFF

    fam = getattr(sq, family)
    width, split = _GEOMETRY[family]
    media = family == "AUDIO_FAMILY"
    rows = _synthetic_signatures(width)
    if not media:
        rows = [r for r in rows if r[1] == 0]  # one signature per doc
    key_cols = list(fam.key_cols)
    id_col = "media_id" if media else "doc_id"

    def ident(doc, variant):
        return (doc, doc + variant * AUDIO_OFF) if media else (doc,)

    def key_rows(part):
        # the rows the family's key function would emit
        return spark.createDataFrame(
            [
                (ident(d, j)[-1], *[split(sig)[k] for k in key_cols])
                for d, j, sig in part
            ],
            ", ".join([f"{id_col} long"] + [f"{k} long" for k in key_cols]),
        )

    def in_index(doc):
        return doc % 3 == 0

    as_keys = dataclasses.replace(fam, keys=lambda df: df)
    idx = sq._doc_bands(
        as_keys, key_rows([r for r in rows if in_index(r[0])])
    ).select(*fam.index_cols)
    bands = sq._doc_bands(
        as_keys, key_rows([r for r in rows if not in_index(r[0])])
    )
    ids = ["doc_id", "media_id"] if media else ["doc_id"]
    got = sorted(
        tuple(r)
        for r in sq._batch_matches(fam, bands, idx)
        .select(*ids, *[f"o_{c}" for c in ids], "hamming")
        .collect()
    )

    band_bits = width // 4
    mask = (1 << band_bits) - 1
    want, multi_band, arms = [], 0, set()
    for a, b in itertools.combinations(rows, 2):
        if a[0] == b[0] or (in_index(a[0]) and in_index(b[0])):
            continue
        h = bin(a[2] ^ b[2]).count("1")
        if h > fam.max_ham:
            continue
        hi, lo = (a, b) if a[0] > b[0] else (b, a)
        want.append((*ident(hi[0], hi[1]), *ident(lo[0], lo[1]), h))
        agree = sum(
            (a[2] >> (band_bits * k)) & mask == (b[2] >> (band_bits * k)) & mask
            for k in range(4)
        )
        multi_band += agree >= 2
        arms.add(in_index(a[0]) or in_index(b[0]))
    assert got == sorted(want)
    # not vacuous: pairs agreeing on several bands, and both join arms
    assert multi_band > 0 and arms == {True, False}, (multi_band, arms)
    if media:
        # same-doc recordings at hamming 0 exist, and never pair
        assert any(r[1] > 0 for r in rows)
        assert all(r[0] != r[2] for r in got)
