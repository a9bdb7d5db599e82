"""Commit-kind classification over a manifest's stored file delta.

Every ``v{N}.json`` stores the commit's own ``files`` section
(``added``: bucket -> paths, ``removed``: paths), so what a commit did
is decidable from that one record — no parent read, and the answer
survives parent expiry. Kept free of any Spark or table import: the
CDF stream reader is pickled to executors and must not drag the table
class along.
"""

from __future__ import annotations


def commit_kind(files: dict, parent: int | None) -> tuple[str, list[str], list[str]]:
    """(kind, added files, removed files) of one commit.

    - ``create``: the table's first commit (no parent);
    - ``rewrite``: removed files (compaction / purge / rebucket) — its
      additions re-state existing row versions, so changelog readers
      refuse or skip it;
    - ``append``: added files only — every file holds new row versions;
    - ``metadata``: touched no file (DDL, tags, properties)."""
    added = [f for fs in files.get("added", {}).values() for f in fs]
    removed = list(files.get("removed", []))
    if parent is None:
        kind = "create"
    elif removed:
        kind = "rewrite"
    elif added:
        kind = "append"
    else:
        kind = "metadata"
    return kind, added, removed
