"""On-disk accounting of a ``TableStore`` root, by file identity.

The store versions tables with hard links, so a file can appear under
many version directories while occupying disk once. Every figure here
counts distinct files, identified by (inode, mtime): a hard link keeps
both, while a new file that reuses a freed inode number has a new mtime.
"""

from __future__ import annotations

import os


def scan(root: str) -> dict[str, tuple[tuple[int, int], int]]:
    """path -> ((inode, mtime_ns), size) of every regular file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            st = os.lstat(p)
            out[p] = ((st.st_ino, st.st_mtime_ns), st.st_size)
    return out


def distinct_bytes(files: dict[str, tuple[tuple[int, int], int]]) -> int:
    return sum(dict(files.values()).values())


def _latest_versions(root: str) -> dict[str, int]:
    out = {}
    for table in os.listdir(root):
        try:
            with open(os.path.join(root, table, "LATEST")) as fh:
                out[table] = int(fh.read().strip())
        except (FileNotFoundError, NotADirectoryError, ValueError):
            continue
    return out


def latest_bytes(root: str, files: dict[str, tuple[tuple[int, int], int]]) -> int:
    """Bytes of the files each table's LATEST version references."""
    prefixes = tuple(os.path.join(root, t, f"v{v}") + os.sep
                     for t, v in _latest_versions(root).items())
    return distinct_bytes({p: f for p, f in files.items() if p.startswith(prefixes)})


def snapshot(root: str) -> tuple[dict[str, tuple[tuple[int, int], int]], dict[str, int]]:
    """(files, each table's LATEST version) of a store root."""
    return scan(root), _latest_versions(root)


def delta(before, after) -> dict:
    """What happened between two snapshots: commits (versions added over
    all tables), parquet files and bytes newly written, and parquet files
    hard-linked from an earlier version."""
    (before, v_before), (after, v_after) = before, after
    old = {ident for ident, _ in before.values()}
    new_files = {p: f for p, f in after.items() if f[0] not in old}
    linked = [p for p, (ident, _) in after.items()
              if p not in before and ident in old and p.endswith(".parquet")]
    commits = sum(v - v_before.get(t, 0) for t, v in v_after.items())
    return {
        "commits": float(commits),
        "files_written": float(sum(p.endswith(".parquet") for p in new_files)),
        "files_linked": float(len(linked)),
        "bytes_written": float(distinct_bytes(new_files)),
    }
