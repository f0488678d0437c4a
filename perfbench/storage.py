"""Storage counters read from outside the engine, by walking the catalog
root on disk.

A write publishes a new ``data.v{N}`` directory; buckets it did not touch
are hard links to the previous version's files. Bytes a write really
produced are therefore the files with inodes not on disk before it.
"""

from __future__ import annotations

import os


def inodes(root: str) -> dict[tuple[int, int], tuple[str, int]]:
    """``{(device, inode): (path, size)}`` of every regular file under
    ``root``. Hard links collapse to one entry."""
    out: dict[tuple[int, int], tuple[str, int]] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue  # removed by a concurrent vacuum
            out.setdefault((st.st_dev, st.st_ino), (p, st.st_size))
    return out


def stored_bytes(root: str) -> int:
    """Bytes on disk under ``root``, each inode counted once."""
    return sum(size for _, size in inodes(root).values())


def write_delta(before: dict, after: dict, new_dir: str) -> tuple[int, int]:
    """``(bytes, buckets)`` a write added under ``new_dir``: the size of
    files whose inode was not in ``before``, and how many ``__bucket=``
    directories hold at least one of them."""
    prefix = os.path.join(new_dir, "")
    new_bytes = 0
    buckets = set()
    for key, (path, size) in after.items():
        if key in before or not path.startswith(prefix):
            continue
        new_bytes += size
        for part in os.path.relpath(path, new_dir).split(os.sep):
            if part.startswith("__bucket="):
                buckets.add(part)
    return new_bytes, len(buckets)


def newest_data_dir(collection_dir: str) -> str | None:
    """The highest ``data.v{N}`` directory of a collection, if any."""
    best = None
    for d in os.listdir(collection_dir):
        if d.startswith("data.v") and d[6:].isdigit():
            if best is None or int(d[6:]) > int(best[6:]):
                best = d
    return None if best is None else os.path.join(collection_dir, best)
