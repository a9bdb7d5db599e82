"""The snapshot table's on-disk commit store, and commit-kind
classification over a manifest's stored file delta.

Layout under a table root:

- ``_manifests/v{N}.json`` — one write-once manifest per commit;
- ``_current`` — main's head version;
- ``_refs.json`` — branch name -> head version.

Every file here is written tmp + fsync + ``os.replace``, so a crash
mid-write leaves the old content (plus a ``*.tmp.*`` file that
``drop_manifests`` sweeps), never a truncated one.

Every ``v{N}.json`` stores the commit's own ``files`` section
(``added``: bucket -> paths, ``removed``: paths), so what a commit did
is decidable from that one record — no parent read, and the answer
survives parent expiry. ``appended_files`` is the one changelog rule
built on it: batch ``read_changes``, the CDF stream and the
incremental view all read a change window through it. Kept free of
any Spark or table import: the CDF stream reader is pickled to
executors and must not drag the table class along.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Iterator

_MANIFEST_NAME = re.compile(r"v(\d+)\.json")


def atomic_write(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically (tmp, fsync, rename)."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _manifest_path(root: str, v: int) -> str:
    return os.path.join(root, "_manifests", f"v{v}.json")


def read_manifest(root: str, v: int) -> dict:
    with open(_manifest_path(root, v)) as f:
        return json.loads(f.read())


def write_manifest(root: str, v: int, d: dict) -> None:
    atomic_write(_manifest_path(root, v), json.dumps(d))


def retained_versions(root: str) -> list[int]:
    """Versions with a manifest on disk, ascending."""
    return sorted(
        int(m.group(1))
        for m in map(_MANIFEST_NAME.fullmatch, os.listdir(os.path.join(root, "_manifests")))
        if m is not None
    )


def drop_manifests(root: str, keep: set[int]) -> None:
    """Delete every manifest outside ``keep`` and every tmp file a
    cut-short write left behind. Call under the commit lock: a live
    writer's tmp file exists only while it holds the lock."""
    man_dir = os.path.join(root, "_manifests")
    for v in retained_versions(root):
        if v not in keep:
            os.remove(_manifest_path(root, v))
    for fn in os.listdir(man_dir):
        if ".tmp." in fn:
            os.remove(os.path.join(man_dir, fn))


def read_refs(root: str) -> dict[str, int]:
    try:
        with open(os.path.join(root, "_refs.json")) as f:
            return {k: int(v) for k, v in json.load(f).items()}
    except FileNotFoundError:
        return {}


def head_version(root: str, ref: str = "main") -> int:
    """Head version of a ref: "main" is the ``_current`` pointer, any
    other name a branch in ``_refs.json``."""
    if ref == "main":
        with open(os.path.join(root, "_current")) as f:
            return int(f.read().strip())
    refs = read_refs(root)
    if ref not in refs:
        raise ValueError(f"no such branch {ref!r}")
    return refs[ref]


def set_head(root: str, ref: str, v: int) -> None:
    if ref == "main":
        atomic_write(os.path.join(root, "_current"), str(v))
        return
    refs = read_refs(root)
    refs[ref] = v
    write_refs(root, refs)


def write_refs(root: str, refs: dict[str, int]) -> None:
    atomic_write(os.path.join(root, "_refs.json"), json.dumps(refs))


def ancestry(root: str, v: int | None) -> Iterator[tuple[int, dict]]:
    """``(version, manifest)`` along ``v``'s parent links, newest
    first. Stops at the create commit or at the first pruned hop (a
    manifest gc_orphans expired). Version numbers are allocated across
    all ref chains, so a chain is walked, never counted."""
    while v is not None:
        try:
            d = read_manifest(root, v)
        except FileNotFoundError:
            return
        yield v, d
        v = d["parent"]


def window(root: str, start: int, end: int) -> Iterator[tuple[int, dict]]:
    """The commits in ``(start, end]`` along ``end``'s chain, newest
    first. Raises FileNotFoundError when the chain is pruned before it
    reaches ``start``: a changelog over part of its window would drop
    row versions silently."""
    parent: int | None = end
    for v, d in ancestry(root, end):
        if v <= start:
            return
        yield v, d
        parent = d["parent"]
    if parent is not None and parent > start:
        raise FileNotFoundError(_manifest_path(root, parent))


def commit_kind(files: dict, parent: int | None) -> tuple[str, list[str], list[str]]:
    """(kind, added files, removed files) of one commit.

    - ``create``: the table's first commit (no parent);
    - ``rewrite``: removed files (compaction / purge / rebucket) — its
      additions re-state existing row versions, so the changelog skips
      it (``appended_files``);
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


def appended_files(root: str, start: int, end: int) -> list[tuple[str, int]]:
    """The change window ``(start, end]`` along ``end``'s chain as
    ``(file, commit version)`` pairs, sorted by file: the files its
    append commits added, each holding new row versions.

    - A rewrite (compaction / purge / rebucket) re-states row versions
      the window already holds, so it contributes nothing — Iceberg's
      incremental append scan ignores ``replace`` snapshots, Delta's
      stream ignores ``dataChange=false`` commits.
    - A rollback that changed files drops row versions a consumer may
      already hold: ValueError, and the consumer re-syncs with a full
      read. So does a rewrite that stores no lineage row (a manifest
      written before commits kept their own ``summary``): it cannot be
      told from a rollback.
    - A metadata commit (DDL, tags, properties) adds no file.
    - A pruned window raises FileNotFoundError (``window``)."""
    files: dict[str, int] = {}
    for v, d in window(root, start, end):
        kind, added, _ = commit_kind(d["files"], d["parent"])
        summary = d.get("summary")
        if kind == "rewrite" and not summary:
            raise ValueError(
                f"change window ({start}, {end}] crosses a rewrite at v{v} "
                "that records no lineage row, so a rollback cannot be ruled "
                "out; re-sync the consumer with a full read"
            )
        if kind in ("append", "rewrite") and (summary or {}).get("op") == "rollback":
            raise ValueError(
                f"change window ({start}, {end}] crosses a rollback at v{v}; "
                "re-sync the consumer with a full read"
            )
        if kind != "rewrite":
            for f in added:
                files.setdefault(f, v)
    return sorted(files.items())
