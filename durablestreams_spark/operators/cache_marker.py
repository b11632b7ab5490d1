"""The artifact cache of the graded builds: where a persisted build
lives, when it is current, and how it is (re)built or published.

Several graded queries build an artifact from a fixture once per
scale-factor directory (a stream ingested from the events table, a
signature index, a trained model, re-laid-out parquet) and serve it
from /tmp afterwards.  Two protocols cover every such artifact:

- **Rebuild in place behind a marker** (``build_once``): the artifact
  lives in ``cache_root(base, sf_dir)``, one directory per fixture
  directory, and a ``_built`` marker file there records the fixture
  fingerprint it was built from.  A stale or missing marker empties
  the directory and rebuilds it; the marker is written only after the
  build returns, so a build that raises is redone on the next call.
  Every ``/tmp/durablestreams_<tag>_vN`` artifact of the log, layout,
  multimodal, partitioned, pipeline, similarity-removal and streaming
  operators uses it.
- **Content-addressed publish** (``publish_once``): the fingerprint is
  folded into the artifact's PATH, so a stale artifact is simply a
  path nobody asks for.  The build writes a pid+thread-unique tmp dir
  that is renamed onto the path; a builder that loses the rename race
  discards its copy and serves the winner's.  The ANN index cache
  (``similarity._ann_cached``) and the gate-decision cache
  (``streaming_queries._gate_budget_decisions``) use it.

A content-free marker is a correctness trap: the fixture directory has
been regenerated before, and a stale cache would serve the OLD data
while the DuckDB oracle reads the new parquet — a guaranteed,
confusing hash mismatch.  The fingerprint therefore records the source
fixture (size + mtime + footer row count — O(footer), no data read).

The fingerprint must ALSO change when the BUILDER changes, not just
the source: a past change to the retention builder's segment geometry
(exact_segments=True) without a new cache key kept serving the old
geometry against an oracle that assumed the new one.  Callers
therefore fold their geometry-affecting builder parameters into
``params``; changing a builder knob invalidates every existing cache
automatically.
"""

from __future__ import annotations

import os
import shutil
import threading


def fixture_fingerprint(sf_dir: str, name: str = "events", params: str = "") -> str:
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    n = pq.read_metadata(path).num_rows
    base = f"{st.st_size}:{st.st_mtime_ns}:{n}"
    return f"{base}:{params}" if params else base


def marker_current(
    marker: str, sf_dir: str, name: str = "events", params: str = ""
) -> bool:
    try:
        with open(marker) as f:
            return f.read().strip() == fixture_fingerprint(sf_dir, name, params)
    except OSError:
        return False


def write_marker(
    marker: str, sf_dir: str, name: str = "events", params: str = ""
) -> None:
    with open(marker, "w") as f:
        f.write(fixture_fingerprint(sf_dir, name, params))


def cache_root(base: str, sf_dir: str) -> str:
    """The artifact directory under ``base`` for one fixture directory."""
    return os.path.join(base, os.path.basename(os.path.normpath(sf_dir)))


def build_once(
    root: str, sf_dir: str, build, *, name: str = "events", params: str = ""
) -> str:
    """Return ``root`` once it holds a build current for the ``name``
    fixture of ``sf_dir`` and ``params``: on a stale or missing
    ``_built`` marker, empty ``root``, run ``build(root)`` and only
    then write the marker."""
    marker = os.path.join(root, "_built")
    if marker_current(marker, sf_dir, name, params):
        return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    build(root)
    write_marker(marker, sf_dir, name, params)
    return root


def publish_once(path: str, write) -> str:
    """Return ``path`` once it exists: if it does not, ``write(tmp)``
    into a tmp dir beside it and rename that onto ``path``.  A lost
    rename race discards the tmp dir and keeps the winner's copy."""
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # pid alone is not unique within one driver: two THREADS of the
        # same process racing on a missing path would overwrite each
        # other's in-progress tmp dir; the thread id disambiguates.
        tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return path
