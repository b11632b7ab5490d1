"""Correctness checks, run outside the timed region.  Each returns
``(ok, detail)``; a failed check fails the run and counts as a failed
operation."""

from __future__ import annotations

import hashlib
import math


def strictly_increasing(offsets):
    bad = next((i for i in range(1, len(offsets)) if offsets[i] <= offsets[i - 1]), None)
    if bad is None:
        return True, ""
    return False, f"offset {offsets[bad]} at position {bad} is not after {offsets[bad - 1]}"


def log_exactly_once(acked, read):
    """``acked``: {offset: id} from every successful produce.
    ``read``: [(offset, id)] from a full consume walk, in read order.
    Every acked record is read exactly once, offsets strictly increase,
    and each offset carries the id it was acked with."""
    offsets = [o for o, _ in read]
    ok, detail = strictly_increasing(offsets)
    if not ok:
        return ok, detail
    seen = dict(read)
    if len(seen) != len(read):
        return False, f"{len(read) - len(seen)} duplicated offsets"
    missing = [o for o in acked if o not in seen]
    if missing:
        return False, f"{len(missing)} acked records never read, first {missing[0]}"
    extra = [o for o in seen if o not in acked]
    if extra:
        return False, f"{len(extra)} records read that were never acked, first {extra[0]}"
    wrong = [o for o, i in acked.items() if seen[o] != i]
    if wrong:
        return False, f"{len(wrong)} records carry the wrong id, first at {wrong[0]}"
    return True, f"{len(read)} records"


def ids_exactly_once(expected_ids, read_ids):
    """Every generated id lands exactly once, and nothing else does."""
    exp = set(expected_ids)
    counts = {}
    for i in read_ids:
        counts[i] = counts.get(i, 0) + 1
    dup = [i for i, c in counts.items() if c > 1]
    if dup:
        return False, f"{len(dup)} ids delivered more than once, first {dup[0]}"
    missing = exp - counts.keys()
    if missing:
        return False, f"{len(missing)} ids never delivered, first {min(missing)}"
    extra = counts.keys() - exp
    if extra:
        return False, f"{len(extra)} ids delivered that were never generated"
    return True, f"{len(exp)} ids"


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if hasattr(v, "as_integer_ratio") and not isinstance(v, int):
        return repr(round(float(v), 9))  # Decimal
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return repr(v)


def rows_hash(cols, rows):
    """Order-insensitive hash of a result: columns sorted by name, each
    row rendered with floats rounded to 9 places, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest(), len(lines)


def same_result(cols, rows, oracle):
    """A result against its oracle's ``(columns, digest, row count)``."""
    o_cols, o_digest, o_n = oracle
    if sorted(cols) != sorted(o_cols):
        return False, f"columns differ: {sorted(cols)} vs {sorted(o_cols)}"
    if not rows:
        return False, "empty result proves nothing"
    digest, n = rows_hash(cols, rows)
    if digest != o_digest:
        return False, f"hash mismatch ({n} vs {o_n} rows)"
    return True, f"{n} rows"
