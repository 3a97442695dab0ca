"""Per-corpus serving-index cache shared by every declared query.

Index construction is a WRITE-side job: a production deployment builds
the BM25 postings / MinHash buckets / bloom words / ANN layouts once
per corpus rebuild and every query serves from the materialized
parquet. Query modules route their index needs through `index_path`,
so a query's own `build()` is the one declaration of the indexes it
serves: calling it once, untimed, builds all of them.

* Default: a per-process tmpdir memo — deterministic content, so
  memoizing is amortization, not semantics.
* With `SPARK_GRAFT_IDX_ROOT` set: a deterministic on-disk location
  derived from (kind, sf_dir), built only if its completion marker is
  absent. This is how bench.py's per-query subprocess isolation shares
  ONE set of indexes across child JVMs — the parent runs every benched
  query's `build()` once, children serve — and mirrors how a real
  cluster shares indexes across jobs.

Every kind this process actually builds is appended to `BUILT` (a
marker or memo hit records nothing); a timing harness clears it before
its timed region and fails if anything was recorded inside it.

The marker file is written only after `build` returns, so a crashed
build is rebuilt rather than served half-written (builders write with
mode=overwrite, making the retry safe).
"""

from __future__ import annotations

import os
import re
import tempfile

_MEMO: dict[tuple[str, str], str] = {}
BUILT: list[str] = []


def _slug(sf_dir: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]+", "_", sf_dir.strip("/"))


def index_path(kind: str, sf_dir: str, build) -> str:
    """Path of the `kind` serving index for `sf_dir`, building via
    `build(path)` exactly once per (process, corpus) — or once per
    SPARK_GRAFT_IDX_ROOT across processes."""
    key = (kind, sf_dir)
    if key in _MEMO:
        return _MEMO[key]
    root = os.environ.get("SPARK_GRAFT_IDX_ROOT")
    if root:
        path = os.path.join(root, f"{kind}__{_slug(sf_dir)}")
        marker = os.path.join(path, "_BUILT")
        if not os.path.exists(marker):
            os.makedirs(path, exist_ok=True)
            build(path)
            BUILT.append(kind)
            with open(marker, "w") as f:
                f.write("ok\n")
    else:
        path = tempfile.mkdtemp(prefix=f"spark_{kind}_idx_")
        build(path)
        BUILT.append(kind)
    _MEMO[key] = path
    return path
