"""Seeded input generators.  The same seed gives byte-identical inputs;
the programs under test receive only what these functions return or
write."""

from __future__ import annotations

import hashlib
import json
import os
import random
import string

_ALPHABET = string.ascii_lowercase + string.digits


def log_batches(seed, n_batches, records=100):
    """Produce batches for log_point: ``n_batches`` lists of ``records``
    records ``{"id", "b", "k", "p"}`` with globally unique ``id``, the
    batch number ``b``, a skewed key ``k`` and a payload of 16-240
    chars."""
    rng = random.Random(f"log_point:{seed}")
    pool = ["".join(rng.choices(_ALPHABET, k=rng.randint(16, 240))) for _ in range(256)]
    out = []
    nid = 0
    for b in range(n_batches):
        batch = []
        for _ in range(records):
            batch.append(
                {"id": nid, "b": b, "k": int(rng.paretovariate(1.2)) % 1000, "p": pool[rng.randrange(256)]}
            )
            nid += 1
        out.append(batch)
    return out


EVENT_TYPES = ("click", "purchase", "error", "signup", "view")


def event_rows(seed, n, first_id=0):
    """Event tuples (event_id, user_id, event_type, value, props) for
    the streaming source and the corpus table."""
    rng = random.Random(f"events:{seed}:{first_id}")
    rows = []
    for i in range(n):
        rows.append(
            (
                first_id + i,
                rng.randrange(5000),
                EVENT_TYPES[rng.randrange(5)],
                round(rng.uniform(0, 500), 2),
                json.dumps({"k": rng.randrange(100)}),
            )
        )
    return rows


def write_json_file(path, rows, created_ms):
    """One JSON-lines source file; every event carries its creation
    stamp ``created_ms`` (set by the generator, read back as the start
    of the freshness interval)."""
    with open(path, "w") as f:
        for eid, uid, et, val, props in rows:
            f.write(
                json.dumps(
                    {"event_id": eid, "user_id": uid, "event_type": et, "value": val,
                     "props": props, "created_ms": created_ms},
                    separators=(",", ":"),
                )
            )
            f.write("\n")


_WORDS = (
    "stream log offset segment manifest commit flush batch trigger tail page cursor "
    "record payload compact merge window rank join scan filter group order key value "
    "spark arrow parquet json schema table column row index shard token model query "
    "fast slow big small hot cold the a of and to in"
).split()
LANGS = ("en", "de", "fr", "es", "zh")


def corpus(seed, out_dir, n_events, n_docs, n_vecs, dim=64):
    """Write the corpus_batch tables (``events``, ``documents``,
    ``embeddings``) as parquet under ``out_dir``, in the schemas the
    engine's table readers expect.  About a fifth of the documents are
    near-copies of earlier ones, so dedup operators find pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)

    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)) + 1_704_067_200 * 10**6
    events = pa.table(
        {
            "event_id": pa.array(rng.permutation(n_events).astype(np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_events // 20), n_events).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.uniform(0, 500, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(20, 80)))]
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(rng.integers(50, 500, n_docs).astype(np.int64)),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))


def digest(obj):
    """Stable hash of a JSON-able input, for the same-seed tests."""
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()
