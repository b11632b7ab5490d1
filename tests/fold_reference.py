"""Pure-Python references for the Arrow embedding kernels of
``durablestreams_spark.operators.similarity``.

Each function is the sequential fold the kernel replaced, with its
float operations in the same order.  Python floats are IEEE doubles,
so a kernel must match its reference bit for bit.  ``None`` plays SQL
NULL and propagates the way it does through Spark's folds; NaN orders
above every number, as in Spark.
"""

import math


def seq_dot(a, b):
    """``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)``."""
    if a is None or b is None:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + x * y
    return acc


def l2sq(a, b):
    """``aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0.0, +)``."""
    if a is None or b is None:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + (x - y) * (x - y)
    return acc


def asc_key(d):
    """Sort key of a double under ``ORDER BY d ASC``: NULLS FIRST, NaN
    after every number."""
    if d is None:
        return (0, 0.0)
    if math.isnan(d):
        return (2, 0.0)
    return (1, d)


def srp_sig(emb, signs):
    """One ``IF(fold >= 0, '1', '0')`` per plane: a NULL sum gives '0',
    a NaN sum '1'."""
    bits = []
    for plane in signs:
        d = seq_dot(emb, [float(x) for x in plane])
        bits.append("1" if d is not None and (math.isnan(d) or d >= 0) else "0")
    return "".join(bits)


def multi_dot(emb, vectors):
    """``array(fold_1, ..., fold_K)``: one sequential dot per vector."""
    return [seq_dot(emb, v) for v in vectors]


def pq_dtable(emb, codebook):
    """Per subspace, the d2 of the embedding's slice to each centroid."""
    w = len(codebook[0][0])
    return [
        [l2sq(None if emb is None else emb[m * w:(m + 1) * w], c) for c in cents]
        for m, cents in enumerate(codebook)
    ]


def pq_codes(emb, codebook):
    """Per subspace, ``row_number() OVER (ORDER BY d2 ASC, cent_id) = 1``."""
    return [
        min(range(len(d2)), key=lambda c: (asc_key(d2[c]), c))
        for d2 in pq_dtable(emb, codebook)
    ]


def adc_sum(dt, cds):
    """``dt[0][codes[0]] + dt[1][codes[1]] + ...``, NULL when any table,
    code or cell is NULL."""
    if dt is None or cds is None:
        return None
    acc = None
    for m, c in enumerate(cds):
        if c is None or dt[m] is None or dt[m][c] is None:
            return None
        acc = dt[m][c] if m == 0 else acc + dt[m][c]
    return acc


def adc_topk(codes, qdt, k):
    """``(query_id, neighbor_id, rank, adist)`` rows of the ADC top-k:
    per query, every other vector ordered by adist (NULLS FIRST, NaN
    last), ties broken by neighbor_id."""
    out = []
    for qid, dt in qdt:
        scored = sorted(
            (asc_key(adc_sum(dt, cds)), vid, adc_sum(dt, cds))
            for vid, cds in codes
            if vid != qid
        )
        out += [(qid, vid, r + 1, a) for r, (_, vid, a) in enumerate(scored[:k])]
    return out
