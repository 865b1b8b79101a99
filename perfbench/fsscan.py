"""Directory-size reads for the storage metrics (files, bytes, and which
files a call wrote), taken from outside the program."""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass
class Tree:
    files: int
    bytes: int
    sizes: dict  # relative path -> (size, mtime_ns) of each data file


def tree_stats(root: str) -> Tree:
    """Data files under ``root``. Names starting with ``_`` or ``.``
    (committer markers, checksums, params, ledgers) are not data, except
    hive partition directories such as ``_cluster=3``."""
    sizes = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if "=" in x or not x.startswith((".", "_"))]
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            sizes[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return Tree(files=len(sizes), bytes=sum(s for s, _ in sizes.values()), sizes=sizes)


def written_bytes(before: Tree, after: Tree) -> int:
    """Bytes of data files present after a call that were not there, or
    were rewritten, before it."""
    return sum(s for p, (s, m) in after.sizes.items() if before.sizes.get(p) != (s, m))
