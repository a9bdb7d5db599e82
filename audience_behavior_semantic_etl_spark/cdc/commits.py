"""The snapshot table's on-disk commit store, and commit-kind
classification over a manifest's stored file delta.

Layout under a table root:

- ``_manifests/v{N}.json`` — one write-once manifest per commit;
- ``_current`` — main's head version;
- ``_refs.json`` — branch name -> head version;
- ``_tags.json`` — tag name -> pinned version. A tag is a pointer,
  not a commit: creating or dropping one writes no manifest (the
  Iceberg ``refs`` map). A ``tags`` property in an older manifest is
  ignored;
- ``_commit.lock`` — the commit critical section, held with
  ``flock(LOCK_EX)`` by ``locked``. The file stays on disk and means
  nothing while no one holds it: the kernel drops the lock when its
  holder exits, however it dies, so a killed committer blocks no one;
- ``_version_seq`` — GC's high-water mark: the newest version number
  ever written, recorded by ``drop_manifests`` only before it deletes
  the newest manifest. ``next_version`` never issues a number at or
  below it.

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

import contextlib
import fcntl
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


@contextlib.contextmanager
def locked(root: str) -> Iterator[None]:
    """The commit critical section of the table at ``root``, exclusive
    across threads and processes — the local-FS analog of the catalog
    compare-and-swap Iceberg commits ride. flock, not ``fcntl.lockf``:
    POSIX record locks belong to the process, so they would not exclude
    a background compaction thread from the apply thread. Each entry
    opens its own descriptor, so two threads contend as two holders.
    Not reentrant. Only read-head -> mutate -> write-manifest -> swing
    the head runs inside; staging writes stay outside."""
    fd = os.open(os.path.join(root, "_commit.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def next_version(root: str) -> int:
    """The next version number, unique table-wide: every ref chain
    shares one ``_manifests/`` namespace. A number once written is
    never reissued, even after rollback + GC deletes the newest
    manifests — checkpointed consumers (CDF streams, incremental views)
    key progress on version numbers and would skip a reused one. Reads
    only, so a commit that declines uses no number. Call under
    ``locked``."""
    vs = retained_versions(root)
    try:
        with open(os.path.join(root, "_version_seq")) as f:
            seq = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        seq = -1
    return max(vs[-1] if vs else -1, seq) + 1


def drop_manifests(root: str, keep: set[int]) -> None:
    """Delete every manifest outside ``keep`` and every tmp file a
    cut-short write left behind. Before deleting the newest manifest
    it records the high-water mark in ``_version_seq``, so that number
    is never reissued. Call under the commit lock: a live writer's tmp
    file exists only while it holds the lock."""
    man_dir = os.path.join(root, "_manifests")
    vs = retained_versions(root)
    if vs and vs[-1] not in keep:
        atomic_write(os.path.join(root, "_version_seq"), str(next_version(root) - 1))
    for v in vs:
        if v not in keep:
            os.remove(_manifest_path(root, v))
    for fn in os.listdir(man_dir):
        if ".tmp." in fn:
            os.remove(os.path.join(man_dir, fn))


_REF_FILES = {"branch": "_refs.json", "tag": "_tags.json"}


def read_refs(root: str, kind: str = "branch") -> dict[str, int]:
    """Branch (or tag) name -> version."""
    try:
        with open(os.path.join(root, _REF_FILES[kind])) as f:
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


def write_refs(root: str, refs: dict[str, int], kind: str = "branch") -> None:
    atomic_write(os.path.join(root, _REF_FILES[kind]), json.dumps(refs))


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
    - ``metadata``: touched no file (DDL, properties)."""
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
    - A metadata commit (DDL, properties) adds no file.
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
