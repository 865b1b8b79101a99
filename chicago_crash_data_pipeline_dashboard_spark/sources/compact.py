"""Small-file compaction for the lake layers.

Streaming ingest and per-run bronze writes produce many small files
(one per micro-batch × partition); at 100 TB the resulting listing +
task-scheduling overhead dominates scan time long before data volume
does (every file is a task, every task is ~100 ms of overhead, and the
name-node/object-store listing is O(files)). Compaction rewrites a
directory to ~``target_bytes`` files:

- file count = ceil(input_bytes / target_bytes), derived from the
  actual on-disk size, not guessed;
- ``repartition(n)`` (round-robin) rather than ``coalesce(n)``:
  coalesce merges whole input partitions and inherits their skew —
  1000 tiny files + 1 huge one coalesce into lopsided outputs, while
  round-robin rebalances bytes evenly at the cost of one shuffle (the
  point of the job);
- hive-partitioned layouts are compacted per partition directory so
  partition pruning keeps working;
- writes stage under a sibling ``_compact_staging`` ROOT
  (``_compact_staging/tmp__{name}`` / ``.../old__{name}``) then
  atomically replace the input — readers never see a half-compacted
  directory, and every crash state is INVISIBLE to listing and
  partition discovery because the staging root's name contains no
  ``=`` (Spark's filter keeps ``_``-prefixed names that contain ``=``,
  so a leaf-adjacent ``k=v_compact_old`` name would be DISCOVERED as
  a bogus partition value — the r11-advice hazard this layout
  retires);
- all file operations go through the Hadoop FileSystem API
  (``sources.fsutil``), so one implementation covers ``file://``,
  ``hdfs://`` and ``s3a://``. On a store without atomic directory
  rename (raw S3) the swap degrades to an O(files) server-side copy —
  still correct under the tmp/old state machine, since every
  intermediate state is invisible or recoverable.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from . import fsutil as FS


_STAGING = "_compact_staging"


def _staging_paths(path: str) -> tuple[str, str]:
    """The swap-staging locations for a directory: inside a sibling
    ``_compact_staging`` ROOT whose name contains no ``=``, so the
    whole subtree is invisible to Spark's listing (the filter skips
    ``_``-prefixed names — but ONLY when they contain no ``=``, since
    hive partition dirs may legitimately start with ``_``; a
    leaf-adjacent ``k=v_compact_old`` OR ``_compact_old__k=v`` name
    would therefore be DISCOVERED as a partition value — the
    r11-advice hazard this layout retires)."""
    clean = path.rstrip("/")
    head, _, base = clean.rpartition("/")
    prefix = f"{head}/" if head else ""
    return f"{prefix}{_STAGING}/tmp__{base}", f"{prefix}{_STAGING}/old__{base}"


def _cleanup_staging_root(path: str) -> None:
    """Drop the ``_compact_staging`` sibling once it is empty (it is
    invisible to readers either way; this is tidiness, not safety)."""
    root = _staging_paths(path)[0].rsplit("/", 1)[0]
    if FS.exists(root) and not FS.list_entries(root):
        FS.delete(root)


def dir_stats(path: str) -> dict[str, int]:
    """(files, bytes) for the data files under ``path`` (recursive,
    ignoring _SUCCESS/_compact artifacts and hidden files)."""
    return FS.dir_stats(path)


def recover_compaction(path: str) -> str | None:
    """Repair leftovers from a compaction that crashed mid-swap.

    States (in swap order) and their repairs:

    - staging ``tmp__{name}`` present, ``path`` present → the rewrite
      aborted before the swap: discard tmp (possibly incomplete).
    - staging ``old__{name}`` present, ``path`` missing → crashed
      between the two renames: restore old → path (tmp, even if
      complete, is discarded — restoring the input is always safe;
      re-running the compaction is idempotent).
    - staging ``old__{name}`` present, ``path`` present → crashed
      after the swap, before cleanup: finish the cleanup.

    Returns the repair performed (or None).
    """
    tmp, old = _staging_paths(path)
    action = None
    if FS.exists(old) and not FS.exists(path):
        FS.rename(old, path)
        action = "restored_old"
    elif FS.exists(old):
        FS.delete(old)
        action = "removed_old"
    if FS.exists(tmp):
        FS.delete(tmp)
        action = (action + "+removed_tmp") if action else "removed_tmp"
    if action is not None:
        _cleanup_staging_root(path)
    return action


def compact_dir(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict[str, int]:
    """Rewrite ``path`` (one non-partitioned dataset directory) into
    ~``target_bytes`` files. No-op if it already has fewer than
    ``min_files`` files. Returns before/after stats."""
    recover_compaction(path)
    before = dir_stats(path)
    if before["files"] < min_files:
        return {**before, "files_after": before["files"], "compacted": 0}

    n_out = max(1, math.ceil(before["bytes"] / target_bytes))
    if n_out >= before["files"]:  # already at/under target size
        return {**before, "files_after": before["files"], "compacted": 0}

    tmp, old = _staging_paths(path)
    df = spark.read.format(fmt).load(path).repartition(n_out)
    df.write.format(fmt).mode("overwrite").save(tmp)

    FS.rename(path, old)
    FS.rename(tmp, path)
    FS.delete(old)
    _cleanup_staging_root(path)
    return {**before, "files_after": dir_stats(path)["files"], "compacted": 1}


def _scan_tree(base: str) -> tuple[list[str], list[str]]:
    """(leaf data dirs, crashed-swap originals) under a partitioned
    root in one recursive listing: a LEAF is a ``k=v`` directory
    holding at least one visible data file; crash states are
    ``tmp__X``/``old__X`` children of a ``_compact_staging`` sibling,
    reported as the ORIGINAL path ``{parent}/X`` (recursion never
    descends into other ``_``/``.``-prefixed names)."""
    leaves: list[str] = []
    crashed: list[str] = []

    def walk(path: str) -> None:
        entries = FS.list_entries(path)
        name = path.rsplit("/", 1)[-1]
        if "=" in name and any(
            not is_dir and not n.startswith(("_", ".")) for n, is_dir in entries
        ):
            leaves.append(path)
        for n, is_dir in entries:
            if not is_dir:
                continue
            if n == _STAGING:
                for child, _d in FS.list_entries(f"{path}/{n}"):
                    orig = f"{path}/{child.split('__', 1)[1]}" if "__" in child else None
                    if orig and orig not in crashed:
                        crashed.append(orig)
            elif not n.startswith(("_", ".")):
                walk(f"{path}/{n}")

    walk(base.rstrip("/"))
    return leaves, crashed


def recover_partitioned(base: str) -> int:
    """Run :func:`recover_compaction`'s state machine over every crash
    leftover under a hive-partitioned root — the cheap insurance a
    PROBE runs before trusting the table (one recursive listing; a
    partition that crashed between the two swap renames exists only
    under the ``_compact_staging`` sibling, and until restored its
    rows are invisible to every reader). Returns the number of
    directories repaired."""
    if not FS.exists(base):
        return 0
    repaired = 0
    _, crashed = _scan_tree(base)
    for orig in crashed:
        if recover_compaction(orig) is not None:
            repaired += 1
    return repaired


def ensure_recovered(base: str) -> int:
    """Probe-side crash-state guard for a FLAT hive layout (leaves
    ``k=v`` directly under ``base``, the signature-table shape): ONE
    existence check on the staging root in the healthy case, the full
    :func:`recover_partitioned` walk only when a crashed swap actually
    left state behind. Probes call this before trusting the table —
    a partition that crashed between the two swap renames is invisible
    to readers until restored."""
    if FS.exists(f"{base.rstrip('/')}/{_STAGING}"):
        return recover_partitioned(base)
    return 0


def compact_partitioned(
    spark: SparkSession,
    base: str,
    fmt: str = "parquet",
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
) -> dict[str, int]:
    """Compact every leaf partition directory (``k=v`` components)
    under ``base`` independently, preserving the hive layout (and so
    partition pruning). Partitions are independent jobs — on a
    cluster they can run concurrently; sequential here."""
    # Recover crash leftovers FIRST: a partition that died mid-swap may
    # exist only as `_compact_old__k=v` (its `k=v` dir missing), which
    # the leaf walk below would never visit.
    recover_partitioned(base)
    leaves, _ = _scan_tree(base)
    totals = {"files": 0, "bytes": 0, "files_after": 0, "compacted": 0}
    for leaf in sorted(leaves):
        r = compact_dir(
            spark, leaf, fmt=fmt, target_bytes=target_bytes, min_files=min_files
        )
        for k in totals:
            totals[k] += r[k]
    return totals
