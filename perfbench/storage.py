"""Per-commit storage accounting from the filesystem.

``DirState`` lists every file under a table directory with its size. The
bytes a commit wrote are the files that are new or grew since the previous
listing. Classification asks the table itself, through ``files_df`` and
``deletes_df``, which paths are live data and delete files; every other
new byte (manifests, version files, indexes, sidecars) is metadata. A
Hadoop ``.<name>.crc`` checksum file goes with the file it covers. So the
split stays right whatever layout the table metadata takes.
"""

from __future__ import annotations

import os


def listing(root: str) -> dict[str, int]:
    """``{absolute path: size}`` of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # removed while listing (maintenance)
                pass
    return out


def added(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Files new in ``after``, or grown since ``before``, with their sizes."""
    return {p: s for p, s in after.items() if s > before.get(p, -1)}


def _covered(path: str) -> str:
    """The file a Hadoop ``.<name>.crc`` checksum covers, else ``path``."""
    d, f = os.path.split(path)
    if f.startswith(".") and f.endswith(".crc"):
        return os.path.join(d, f[1:-4])
    return path


def classify(new: dict[str, int], tdir: str, data_paths, delete_paths) -> dict[str, int]:
    """Split new bytes into ``data``, ``delete`` and ``meta``."""
    def norm(paths):
        return {os.path.normpath(p if os.path.isabs(p) else os.path.join(tdir, p))
                for p in paths}

    data, deletes = norm(data_paths), norm(delete_paths)
    out = {"data": 0, "delete": 0, "meta": 0}
    for p, size in new.items():
        q = os.path.normpath(_covered(p))
        kind = "data" if q in data else "delete" if q in deletes else "meta"
        out[kind] += size
    return out
