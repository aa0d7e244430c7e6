"""Atomic manifest commits for the bucket stores — the session table
(sessions.py), the rollup (incremental.py), the crawl table (crawl.py)
and the IVF index (operators/ivf.py).  This module is the ONE place
that decides how such a store is read and published: stores call
:func:`read_snapshot` and :func:`publish` and keep only their merge
semantics.  It closes the commit-granularity window the round-10
verdict documented: dynamic-partition overwrite delegates
bucket-directory replacement to the file committer, so a crash MID-JOB
could leave some buckets at epoch E and others at E−1 (each bucket
individually consistent, but a cross-bucket read was not a snapshot).

Protocol (the Iceberg/Delta shape, self-contained):

1. **Data files are immutable and write-once.**  The commit that
   publishes manifest version N writes its rewritten buckets under
   ``data/commit=N/bucket=NN`` — a NEW directory, never an in-place
   overwrite, so there is no delete+rename window at all.  A crashed
   attempt leaves an unpublished directory that no reader can reach
   (readers resolve paths only through the manifest); the retry
   removes and rewrites it.
2. **Publication is ONE atomic rename.**  A manifest version file
   ``manifest/v{N}.json`` maps every bucket to the exact data path
   (and epoch) that serves it.  The new version is written to a temp
   file and ``os.replace``d into place — readers either see v{N}
   complete or not at all, so a cross-bucket read through one
   manifest is always a consistent snapshot: ALL buckets at their
   v{N} epochs, never mixed between two commits.
3. **Snapshot isolation / time travel** fall out: a reader that
   resolved version k keeps a frozen view even while later commits
   land (compose of the s14_snapshot_time_travel idea), and
   :func:`prune` drops data directories unreferenced by the retained
   manifest tail (the s13_manifest_file_prune idea).

Data directories are named after the manifest VERSION they publish,
not after the writer's epoch.  Every version is published at most
once, so a ``commit=N`` directory found before version N exists is
always crash residue and :func:`staging_dir` may remove it without
any promise from the caller.  Epochs are the writer's idempotence
key (a stream's batch id) and several commits may carry the same one
— compaction republishes the current epoch — so an epoch-named
directory could collide with a live one.

Exactly-once: the manifest records each bucket's applied epoch and
commits atomically WITH the bucket paths.  A streaming store skips
buckets whose manifest epoch already reached the batch's epoch, so a
redelivered batch is merged exactly once and staged-but-unpublished
residue is discarded.

Scale notes: the manifest is control-plane metadata — O(N_BUCKETS)
entries, written by the single foreachBatch driver (streaming sinks
are single-writer by construction).  On a real cluster the atomic
rename is HDFS ``rename`` or an object-store conditional put; the
production swap-in is a Delta/Iceberg commit, whose log append is
exactly this one-file flip.  The DATA path stays fully distributed —
the manifest never carries rows; the driver only lists the staged
``bucket=NN`` directory names.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "manifest"
DATA_DIR = "data"
N_BUCKETS = 32


def bucket_of(col: str) -> Column:
    """The store's bucket id for key column ``col``."""
    return F.pmod(F.xxhash64(col), F.lit(N_BUCKETS)).cast("int")


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, MANIFEST_DIR)


def latest_version(table_dir: str) -> int | None:
    """Highest committed manifest version, or None for an empty store.
    Temp files (``.tmp`` suffix) from a crashed flip are ignored —
    they were never published."""
    mdir = _manifest_dir(table_dir)
    if not os.path.isdir(mdir):
        return None
    versions = [
        int(name[1:-5])
        for name in os.listdir(mdir)
        if name.startswith("v") and name.endswith(".json")
    ]
    return max(versions) if versions else None


def read_manifest(
    table_dir: str, version: int | None = None, *, missing_ok: bool = False
) -> dict | None:
    """The manifest dict at ``version`` (default: latest), or None for
    an empty store.  Shape::

        {"version": N, "epoch": E,
         "buckets": {"7": {"path": "data/commit=K", "epoch": E7}, ...}}

    where K is the version that last rewrote bucket 7 and E7 the
    epoch it was rewritten at.

    An EXPLICITLY requested version that does not exist on disk raises
    ``FileNotFoundError``: a time-travel read of a pruned snapshot must
    fail loudly, not silently serve an empty table (a pruned IVF index
    would otherwise return zero neighbors with no error — round-12
    advisor finding).  Only :func:`prune` passes ``missing_ok=True``,
    because its retained range is not necessarily contiguous after an
    earlier, more aggressive prune (round-11 advisor finding) — there a
    missing version is "nothing to retain", not an error.
    """
    if version is None:
        version = latest_version(table_dir)
    if version is None:
        return None
    try:
        with open(os.path.join(_manifest_dir(table_dir), f"v{version}.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        if missing_ok:
            return None
        raise FileNotFoundError(
            f"manifest version {version} of {table_dir} does not exist "
            "(pruned or never committed); latest is "
            f"{latest_version(table_dir)}"
        ) from None


def bucket_epochs(manifest: dict | None) -> dict[int, int]:
    if manifest is None:
        return {}
    return {int(b): int(e["epoch"]) for b, e in manifest["buckets"].items()}


def bucket_paths(table_dir: str, manifest: dict | None, buckets=None) -> list[str]:
    """Absolute data paths serving the given buckets (default: all)."""
    if manifest is None:
        return []
    wanted = None if buckets is None else {int(b) for b in buckets}
    return [
        os.path.join(table_dir, e["path"], f"bucket={int(b)}")
        for b, e in manifest["buckets"].items()
        if wanted is None or int(b) in wanted
    ]


def read_snapshot(
    spark: SparkSession, table_dir: str, schema: str, manifest: dict | None, buckets=None
) -> DataFrame:
    """The given buckets (default: all) of ONE resolved manifest — the
    paths are frozen at resolve time, so the DataFrame is a consistent
    snapshot even while later commits land — or an empty DataFrame of
    ``schema`` when the manifest serves none of them."""
    paths = bucket_paths(table_dir, manifest, buckets)
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _data_rel(version: int) -> str:
    return os.path.join(DATA_DIR, f"commit={int(version)}")


def _next_version(table_dir: str) -> int:
    latest = latest_version(table_dir)
    return 0 if latest is None else latest + 1


def staging_dir(table_dir: str, version: int) -> str:
    """Write-once data directory for the commit that will publish
    manifest ``version``.  Every version is published at most once, so
    a directory that exists before its version does is the residue of
    a CRASHED attempt — remove it; no reader can hold a path into an
    unpublished directory."""
    d = os.path.join(table_dir, _data_rel(version))
    if os.path.isdir(d):
        shutil.rmtree(d)
    return d


def publish(
    df: DataFrame, table_dir: str, epoch: int, touched, extra: dict | None = None
) -> int:
    """Stage ``df`` (which carries a ``bucket`` column) write-once and
    publish it with one manifest flip at ``epoch``: every staged
    ``bucket=NN`` directory is repointed, and every ``touched`` bucket
    the merge drained to zero rows leaves the map in the SAME flip (a
    stale path must not keep serving replaced rows).  Returns the
    committed version."""
    staging = staging_dir(table_dir, _next_version(table_dir))
    df.write.partitionBy("bucket").parquet(staging)
    written = sorted(
        int(name.split("=", 1)[1])
        for name in os.listdir(staging)
        if name.startswith("bucket=")
    )
    drained = sorted({int(b) for b in touched} - set(written))
    return commit(table_dir, epoch, written, dropped_buckets=drained, extra=extra)


def commit(
    table_dir: str,
    epoch_id: int,
    rewritten_buckets: list[int],
    dropped_buckets: list[int] = (),
    extra: dict | None = None,
) -> int:
    """Atomically publish the buckets staged in the next version's
    :func:`staging_dir` at epoch ``epoch_id``: merge the bucket→path
    map of the previous manifest with the rewritten buckets, remove
    ``dropped_buckets`` (buckets the commit drained to zero rows — they
    leave the map in the SAME flip, so no reader can ever resolve a
    stale path for them; their old data dirs become unreferenced and
    prune() reclaims them), and flip one new manifest version into
    place.  Returns the committed version number.

    ``extra`` carries store-specific snapshot metadata (e.g. the IVF
    centroid table's epoch path) INSIDE the same atomic flip; previous
    extras are carried forward unchanged when not overridden, so a
    bucket-only commit (upsert) keeps pointing at its model."""
    prev = read_manifest(table_dir)
    buckets = dict(prev["buckets"]) if prev else {}
    for b in dropped_buckets:
        buckets.pop(str(int(b)), None)
    version = (prev["version"] + 1) if prev else 0
    rel = _data_rel(version)
    for b in rewritten_buckets:
        buckets[str(int(b))] = {"path": rel, "epoch": int(epoch_id)}
    doc = {
        k: v
        for k, v in (prev or {}).items()
        if k not in ("version", "epoch", "buckets")
    }
    doc.update(extra or {})
    doc.update({"version": version, "epoch": int(epoch_id), "buckets": buckets})
    mdir = _manifest_dir(table_dir)
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f"v{version}.json.tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    # the flip: atomic on POSIX; HDFS rename / object-store
    # conditional put on a real cluster
    os.replace(tmp, os.path.join(mdir, f"v{version}.json"))
    # fsync the DIRECTORY too: the rename itself lives in the dir
    # entry, and a power loss after replace-but-before-dir-flush would
    # lose a version the caller's checkpoint already considers
    # committed (the round-11 review finding)
    dfd = os.open(mdir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    return version


def prune(table_dir: str, keep_last: int = 2) -> list[str]:
    """Drop manifest versions and data directories unreferenced by the
    retained manifest tail (compose of s13_manifest_file_prune).
    Returns the removed paths.  Readers of retained versions are
    unaffected — every path they can resolve is kept."""
    latest = latest_version(table_dir)
    if latest is None:
        return []
    keep_versions = {v for v in range(max(0, latest - keep_last + 1), latest + 1)}
    referenced: set[str] = set()
    for v in keep_versions:
        m = read_manifest(table_dir, v, missing_ok=True)
        if m:
            referenced.update(e["path"] for e in m["buckets"].values())
            if m.get("centroids"):
                referenced.add(m["centroids"])
    removed = []
    ddir = os.path.join(table_dir, DATA_DIR)
    if os.path.isdir(ddir):
        for name in sorted(os.listdir(ddir)):
            rel = os.path.join(DATA_DIR, name)
            if rel not in referenced:
                shutil.rmtree(os.path.join(ddir, name))
                removed.append(rel)
    # epoch-versioned model dirs (IVF centroids) age out the same way;
    # a legacy flat centroids/ layout has no commit= children and is
    # left untouched
    cdir = os.path.join(table_dir, "centroids")
    if os.path.isdir(cdir):
        for name in sorted(os.listdir(cdir)):
            if not name.startswith("commit="):
                continue
            rel = os.path.join("centroids", name)
            if rel not in referenced:
                shutil.rmtree(os.path.join(cdir, name))
                removed.append(rel)
    mdir = _manifest_dir(table_dir)
    for name in sorted(os.listdir(mdir)):
        if not (name.startswith("v") and name.endswith(".json")):
            continue
        if int(name[1:-5]) not in keep_versions:
            os.remove(os.path.join(mdir, name))
            removed.append(os.path.join(MANIFEST_DIR, name))
    return removed
