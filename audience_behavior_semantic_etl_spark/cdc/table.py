"""Snapshot-committed, bucket-partitioned, MERGE-ON-READ table — the
Iceberg-shaped sink for the CDC engine.

No Iceberg runtime jar ships in this sandbox, so this implements the
same *semantics* on plain parquet + a JSON manifest with an atomic
pointer swap:

- data files:   ``root/data/f-<snapshot>-<n>.parquet`` (immutable)
- manifests:    ``root/_manifests/v{N}.json`` — schema, properties
  (committed batch ids, per-source-part LSN watermarks), the commit's
  own lineage row, parent version, and the commit's FILE DELTA vs its
  parent (Iceberg manifest-file analog) with a periodic inline full
  rollup (manifest-list analog) — commit metadata is O(batch), not
  O(live-files); see the notes above ``Manifest``
- pointer:      ``root/_current`` — the committed version number,
  swapped with ``os.replace`` (atomic on POSIX), written AFTER the
  manifest: a crash between the two leaves an orphan manifest and a
  readable previous snapshot (write-manifest-last protocol,
  SURVEY.md §7.4)

**Merge-on-read**: each apply APPENDS per-bucket delta files of batch
winners (including tombstones); it never rewrites existing data. A key
may therefore appear in several files of its bucket — ``read()``
resolves last-writer-wins (max ``_lsn`` per key) at read time, and
``compact_buckets`` folds a bucket's files back to one resolved file
when the file count crosses a threshold. This is the Iceberg MoR /
Hudi MOR / Paimon LSM-bucket design, and it is what makes apply cost
O(batch) instead of O(table) — the difference between a CDC sink that
sustains 10^10 events and one whose batches slow down as the table
grows (copy-on-write rewrite amplification).

Readers resolve ``_current`` -> manifest -> exact file list, so
uncommitted data files are invisible. Bucket partitioning is
``pmod(xxhash64(conv_id), n_buckets)`` — the Iceberg
``bucket(N, conv_id)`` transform analog — so a key's full history
lives in one bucket (read-side LWW never crosses buckets) and
compaction / reads parallelize across buckets. On a real cluster this
module is replaced by Iceberg MERGE in merge-on-read mode + snapshot
summary properties; the engine API is identical (this is a sink swap,
not an engine change).

Reference parity: the reference persists each cube step as
Hive-partitioned parquet + temp table (ETLProcess.scala:111-128) with
``coalesce(1)`` — we keep "persisted, partitioned, queryable-by-name"
and drop the single-file write (SURVEY.md §4.2).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import struct
import threading
import time
import uuid
from collections import ChainMap
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql import types as T

from audience_behavior_semantic_etl_spark.cdc import commits
from audience_behavior_semantic_etl_spark.cdc import schema as S
from audience_behavior_semantic_etl_spark.cdc.commits import (
    ancestry,
    appended_files,
    commit_kind,
    head_version,
    read_manifest,
)


def bucket_expr(conv_col, n_buckets: int):
    """Iceberg-style bucket transform: pmod(xxhash64(key), N)."""
    return F.pmod(F.xxhash64(conv_col), F.lit(n_buckets)).cast("int")


_M64 = (1 << 64) - 1
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _XXP2) & _M64, 31) * _XXP1) & _M64


def _xxhash64(data: bytes, seed: int = 42) -> int:
    """Spark's ``XxHash64`` of one byte string (``XXH64.hashUnsafeBytes``,
    little-endian lanes, default seed 42) as a signed long — the
    function behind ``F.xxhash64(string_col)`` over the UTF-8 bytes.
    Mirrored driver-side so a point lookup finds its bucket with zero
    Spark jobs; parity is pinned by ``test_xxhash64_parity_with_spark``."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (seed + _XXP1 + _XXP2) & _M64,
            (seed + _XXP2) & _M64,
            seed & _M64,
            (seed - _XXP1) & _M64,
        ]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_xxh64_round(a, lane) for a, lane in zip(v, lanes)]
            i += 32
        h = (
            _rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12) + _rotl64(v[3], 18)
        ) & _M64
        for a in v:
            h = ((h ^ _xxh64_round(0, a)) * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (_rotl64(h ^ _xxh64_round(0, k), 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (_rotl64(h ^ ((k * _XXP1) & _M64), 23) * _XXP2 + _XXP3) & _M64
        i += 4
    for b in data[i:]:
        h = (_rotl64(h ^ ((b * _XXP5) & _M64), 11) * _XXP1) & _M64
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def bucket_of(conv_id: str, n_buckets: int) -> int:
    """``bucket_expr`` of one literal key, computed driver-side."""
    return _xxhash64(conv_id.encode("utf-8")) % n_buckets  # Python % == Spark pmod


# File-level key-range statistics (Iceberg DataFile lower_bounds /
# upper_bounds analog). Collected DRIVER-side from parquet FOOTERS at
# adoption time — footer-only metadata reads, no data pages touched,
# which is exactly the cost model of an Iceberg writer reporting stats
# in its DataFile entries. Values longer than this are discarded rather
# than trusted: parquet implementations may truncate long binary
# min/max (making `key > max` pruning unsound); engine-generated
# conv_ids are far shorter, so real files always qualify, and a file
# with no usable stats is simply never pruned (correctness-safe
# default).
_STATS_MAX_LEN = 256


def _stats_admit(stat: list | None, key: str) -> bool:
    """May ``key`` live in a file with min/max ``stat``? Missing stats
    admit (never prune what we can't bound)."""
    return stat is None or (stat[0] <= key <= stat[1])


def _put_nonempty(props: dict[str, Any], key: str, value) -> None:
    """Set a schema-map property, or drop it when empty: absent and
    empty mean the same to readers, and absent keeps tables that never
    renamed or dropped free of the keys."""
    if value:
        props[key] = value
    else:
        props.pop(key, None)


def _mark_partial(m: "Manifest", patched) -> None:
    """Sticky column-fold mode for ``m``: the PHYSICAL columns some
    patch set, unioned into ``patched_columns``. The property's presence
    (even as an empty list) is what switches reads to the fold."""
    prev = m.properties.get("patched_columns", ())
    m.properties["patched_columns"] = sorted(set(prev) | set(patched))


def _era(m: "Manifest") -> tuple:
    """A manifest's schema era: what a data file's layout depends on."""
    p = m.properties
    return (
        list(m.columns), p.get("physical_names") or {},
        p.get("rename_history") or {}, sorted(p.get("used_physical") or []),
    )


def _safe_dirname(s: str) -> str:
    """App ids become directory components (quarantine layout); replace
    anything path-hostile so an id like 'etl/prod' can't escape the
    _quarantine tree. When sanitization ALTERS the id, append a short
    stable hash of the raw id so distinct ids that sanitize identically
    (e.g. 'etl/prod' vs 'etl_prod') keep DISJOINT directories —
    otherwise overwrite-mode quarantine writes with overlapping batch
    ids would clobber each other across apps."""
    safe = "".join(c if (c.isalnum() or c in "-_.") else "_" for c in s) or "_"
    if safe != s:
        safe += "-" + hashlib.md5(s.encode("utf-8")).hexdigest()[:8]
    return safe


# ---------------------------------------------------------------------
# Manifest storage: per-commit DELTAS + periodic full rollups.
#
# Round-4's format serialized the FULL live-file map into every commit's
# JSON — O(live-files) metadata written per commit and parsed per read,
# the classic single-manifest ceiling Iceberg splits into manifest
# files + a manifest list. v{N}.json now stores:
#
#   - the commit's own file DELTA vs its parent (``files.added`` /
#     ``files.removed`` / ``files.stats_added``: the key ranges of the
#     added files; a removed file's range leaves with it, and a commit
#     that removes files stores a full base) — O(batch), which is what
#     an append costs in data too. No caller states it: ``_write_manifest`` derives it from the mutated
#     manifest and the parent state, the way Iceberg derives a
#     snapshot's added/removed files from its operation;
#   - every ROLLUP_EVERY commits (and on every create / rewrite /
#     rebucket, whose data cost is O(live) anyway) an inline FULL
#     snapshot (``files.full``) — the manifest-list rollup that bounds
#     reconstruction walks to ROLLUP_EVERY hops;
#   - schema + properties (watermarks, exactly-once ledger,
#     physical-name maps) in full — all O(apps + parts), never
#     O(files). Per-file key ranges are FILE state (``Manifest.file_stats``,
#     the DataFile lower/upper-bounds analog), not a property: a range
#     is written by the commit that adds its file and leaves with it;
#   - the commit's OWN lineage row (``summary``), or none: a manifest
#     carries no other commit's row. ``lineage()`` reads the rows back
#     along the head's retained chain, so a row leaves with its
#     snapshot when gc_orphans expires it — lineage agrees with
#     snapshots_df/history_df (Iceberg snapshot expiry).
#
# ``manifest()`` reconstructs the full state by walking parents to the
# nearest full base and caching the result per (root, version):
# manifests are write-once and version numbers never reused
# (``commits.next_version``), so the cache can never serve stale content.
# gc_orphans rewrites any KEPT delta manifest whose reconstruction
# parent is being dropped in place as FULL (same version/snapshot_id/
# delta summary — see the boundary-materialization block there) so
# reconstruction can never dangle. Every commit after the create goes
# through ONE primitive, ``SnapshotTable._commit`` (lock, fresh head,
# mutate, write manifest, swing pointer); the files themselves are
# read and written only by ``cdc/commits.py``.
_STATE_CACHE: dict[tuple[str, int], tuple] = {}
_STATE_CACHE_LOCK = threading.Lock()
_STATE_CACHE_MAX = 512


def _cache_put(key: tuple[str, int], val: tuple) -> None:
    """EVERY state-cache insert goes through here: eviction + insert
    under one lock. Background compaction threads reconstruct state
    concurrently with the apply thread, and an unguarded two-thread
    eviction double-deletes (KeyError mid commit); insert sites that
    skipped eviction accounting (_write_manifest primes the cache once
    per commit) would grow the dict without bound over a soak-scale
    run's thousands of commits. Reads stay lock-free (GIL-atomic dict
    get; entries are immutable once inserted)."""
    with _STATE_CACHE_LOCK:
        if len(_STATE_CACHE) >= _STATE_CACHE_MAX:
            # drop an arbitrary half; entries rebuild from disk on demand
            for k in list(_STATE_CACHE)[: _STATE_CACHE_MAX // 2]:
                _STATE_CACHE.pop(k, None)
        _STATE_CACHE[key] = val
ROLLUP_EVERY = 32
# lineage() returns at most this many rows, the most recent ones
LINEAGE_CAP = 256


@dataclass
class Manifest:
    version: int
    snapshot_id: str
    parent: int | None
    columns: list[tuple[str, str]]  # (name, type_name)
    n_buckets: int
    buckets: dict[str, list[str]]  # bucket id (str) -> relative file paths
    # relative file path -> [min, max] conv_id of that live file; files
    # without an entry have no usable footer stats and are always read
    file_stats: dict[str, list[str]] = field(default_factory=dict)
    properties: dict[str, Any] = field(default_factory=dict)
    # this commit's own lineage row (None: the commit wrote none)
    summary: dict[str, Any] | None = None
    # this commit's OWN file delta, as stored (a fresh parse per
    # resolve, not copied). The engine classifies a commit from the
    # stored dict with ``commit_kind``; these two fields stay for the
    # perfbench CDC workload, which reads them.
    files_added: dict[str, list[str]] = field(default_factory=dict)
    files_removed: list[str] = field(default_factory=list)


class SnapshotTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ------------------------------------------------------------ lifecycle

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        columns: list[tuple[str, Any]] | None = None,
        n_buckets: int = 16,
    ) -> "SnapshotTable":
        cols = columns or S.TRANSCRIPTS_V1_FIELDS
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        m = Manifest(
            version=0,
            snapshot_id=uuid.uuid4().hex,
            parent=None,
            columns=[(n, S.type_to_name(dt)) for n, dt in cols],
            n_buckets=n_buckets,
            buckets={},
            properties={"watermarks": {}, "committed_batches": {}},
        )
        t = SnapshotTable(spark, root)
        t._write_manifest(m)
        return t

    @staticmethod
    def exists(root: str) -> bool:
        return os.path.exists(os.path.join(root, "_current"))

    def manifest(
        self, version: int | None = None, ref: str = "main", tag: str | None = None
    ) -> Manifest:
        """THE resolver: ``version``, else ``tag`` (a named pin), else
        ``ref``'s head ("main" is the ``_current`` pointer, any other
        name a branch) -> that snapshot's manifest. Every committed
        version stays readable until a GC pass (time travel — Iceberg
        snapshot-id reads). Every reader and both rewrites resolve once
        and plan from that one manifest (the Iceberg one-snapshot-id
        scan rule).

        The file state is the cached reconstruction (delta chain folded
        onto the nearest full base), uncopied: each bucket entry is the
        state's frozen tuple and ``file_stats`` is a write overlay on
        the state's map, so a resolve copies no O(live-files) structure
        and an in-place edit of a bucket raises. ``_commit`` hands the
        same shape to ``mutate``, which REPLACES entries; an untouched
        bucket is then recognized by identity."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version or tag, not both")
            version = self.resolve_tag(tag)
        if version is None:
            version = head_version(self.root, ref)
        d = read_manifest(self.root, version)
        buckets, stats, _depth = self._state(version, d)
        files = d["files"]
        return Manifest(
            version=d["version"],
            snapshot_id=d["snapshot_id"],
            parent=d["parent"],
            columns=[tuple(c) for c in d["columns"]],
            n_buckets=d["n_buckets"],
            buckets=dict(buckets),
            file_stats=ChainMap({}, stats),
            properties=dict(d["properties"]),
            summary=d.get("summary"),
            files_added=files.get("added", {}),
            files_removed=files.get("removed", []),
        )

    def _state(
        self, version: int, d: dict | None = None
    ) -> tuple[dict[str, tuple], dict[str, tuple], int]:
        """(buckets, file_stats, delta_depth) of a version — the full
        file state folded from the delta chain, memoized per
        (root, version). Bucket lists are frozen tuples; stat entries are
        lists SHARED by convention (replaced, never mutated in place). depth = hops to the nearest full
        base (0 for full manifests), which bounds both reconstruction
        and the GC base-chain walk."""
        key = (self.root, version)
        hit = _STATE_CACHE.get(key)
        if hit is not None:
            return hit
        # walk DOWN the delta chain to the nearest cached or full base,
        # collecting the pending deltas; then fold them upward onto ONE
        # mutable copy of the base. Only the requested version is
        # cached — caching every intermediate hop would cost
        # O(live-files × depth) dict copies per cold read, and cold
        # reads overwhelmingly target chain heads.
        chain: list[dict] = []  # pending delta dicts, newest first
        base: tuple | None = None  # (buckets, stats, depth) to fold onto
        v: int | None = version
        dd = d
        while True:
            if dd is None:
                hit = _STATE_CACHE.get((self.root, v))
                if hit is not None:
                    base = hit
                    break
                dd = read_manifest(self.root, v)
            files = dd["files"]
            if files.get("full") is not None:
                full = files["full"]
                base = (
                    {b: tuple(fs) for b, fs in full["buckets"].items()},
                    dict(full.get("stats", {})),
                    0,
                )
                break
            chain.append(files)
            v = dd["parent"]
            dd = None
        pbuckets, pstats, pdepth = base
        if not chain:
            buckets, stats, depth = pbuckets, pstats, pdepth
        else:
            buckets = {b: list(fs) for b, fs in pbuckets.items()}
            stats = dict(pstats)
            # oldest pending first; a delta only adds: a commit that
            # removes files stores a full base (_write_manifest)
            for files in reversed(chain):
                for b, rels in files.get("added", {}).items():
                    buckets.setdefault(b, []).extend(rels)
                stats.update(files.get("stats_added", {}))
            buckets = {b: tuple(fs) for b, fs in buckets.items()}
            depth = pdepth + len(chain)
        val = (buckets, stats, depth)
        _cache_put(key, val)
        return val

    # ------------------------------------------------------------ refs
    #
    # Branch refs (the Iceberg branch analog): named MUTABLE pointers
    # into the manifest DAG. "main" is the `_current` pointer; branches
    # live in `_refs.json` and tags (immutable pins) in `_tags.json`,
    # mutated atomically (write-tmp + rename) under the same commit
    # lock as every other head mutation. Each
    # branch commit chain carries its OWN properties (exactly-once
    # ledger, watermarks, schema) forward from its fork point, so a
    # stream applying onto a branch is isolated from main until
    # `fast_forward` (or `cherry_pick`) publishes it — the Iceberg
    # audit-branch (write-audit-publish) pattern.

    def _write_manifest(self, m: Manifest, ref: str = "main") -> None:
        """Write-manifest-last atomic commit; advances ``ref``'s head.
        Called by ``_commit`` only (and by ``create`` for v0).
        Stamps the commit wall-clock (``committed_at``) — manifests are
        write-once, so the stamp is the commit time, and age-based
        retention (gc_orphans ``max_age_seconds``) reads it back.

        Stores the commit's FILE DELTA, derived here from ``m`` and its
        parent's state: per bucket the files added and removed, plus the
        key ranges of exactly those files — an added file's range comes
        from ``m.file_stats``, a removed file's leaves with it. A bucket
        whose entry is still the parent state's own tuple (what
        ``_commit`` handed ``mutate``) is skipped by identity, and an
        appended bucket is a prefix compare, so the work per commit is
        O(n_buckets + changed files) on top of C-level copies. A commit
        that removes files (compaction / purge / rebucket — their data
        cost is O(live) anyway), the create commit, and every
        ROLLUP_EVERY-th chain hop also write an inline full snapshot
        that resets the reconstruction walk."""
        m.properties["committed_at"] = time.time()
        pbuckets, pstats, pdepth = (
            self._state(m.parent) if m.parent is not None else ({}, {}, -1)
        )
        buckets: dict[str, tuple] = {}
        added: dict[str, list[str]] = {}
        removed: list[str] = []
        for b, fs in m.buckets.items():
            pf = pbuckets.get(b)
            if fs is pf:
                buckets[b] = pf
                continue
            pf, fs = pf or (), tuple(fs)
            buckets[b] = fs
            if fs[: len(pf)] == pf:  # an append: the common case
                add = list(fs[len(pf):])
            else:
                old, new = set(pf), set(fs)
                add = [f for f in fs if f not in old]
                removed.extend(f for f in pf if f not in new)
            if add or b not in pbuckets:
                added[b] = add
        removed.extend(
            f for b, pf in pbuckets.items() if b not in m.buckets for f in pf
        )
        stats_added = {
            f: list(m.file_stats[f])
            for fs in added.values() for f in fs if f in m.file_stats
        }
        stats = pstats
        if stats_added or removed:
            stats = dict(pstats)
            for f in removed:
                stats.pop(f, None)
            stats.update(stats_added)
        full = m.parent is None or bool(removed) or pdepth + 1 >= ROLLUP_EVERY
        d = {
            "version": m.version,
            "snapshot_id": m.snapshot_id,
            "parent": m.parent,
            "columns": [list(c) for c in m.columns],
            "n_buckets": m.n_buckets,
            "properties": m.properties,
            "summary": m.summary,
            "files": {
                "added": added,
                "removed": removed,
                "stats_added": stats_added,
                "full": {"buckets": buckets, "stats": stats} if full else None,
            },
        }
        commits.write_manifest(self.root, m.version, d)
        _cache_put((self.root, m.version), (buckets, stats, 0 if full else pdepth + 1))
        commits.set_head(self.root, ref, m.version)

    # ------------------------------------------------------------ schema

    # -- logical/physical column mapping (name-based field-id analog) --
    #
    # RENAME and DROP evolution need what Iceberg gets from field ids:
    # the STORED column name must be stable across renames, and a
    # re-added name must be a FRESH field that cannot read old data.
    # The manifest keeps three properties (all absent on tables that
    # never rename/drop — fully backward compatible):
    #   physical_names: {logical -> physical} for columns whose stored
    #     name differs from the current logical name (rename keeps the
    #     physical name; re-add after drop assigns "<name>__f<snapshot_id>",
    #     the full 32-hex id of the adding commit; tables written before
    #     that rule keep their stored "<name>__f<version>" names)
    #   used_physical:  every physical name ever assigned — consulted
    #     at add time so a re-added name gets a fresh physical column
    #     and old file data can never resurface
    #   rename_history: {logical -> [former logical names]} — the
    #     normalizer coalesces payload fields under any former name
    #     into the current column, so pre-rename events (in-flight or
    #     re-delivered) land identically (re-delivery determinism)
    # Readers alias physical -> that snapshot's logical names at the
    # scan (_read_rel_files); writers project logical -> physical at
    # the staged write (to_physical). Set-masks and patched_columns
    # store PHYSICAL names: they survive renames and are era-unique,
    # so a patch on a dropped-then-re-added column can never leak into
    # the new field (_fold_resolve translates per current manifest).

    def _phys_map(self, m: Manifest | None = None) -> dict[str, str]:
        """Current logical -> physical (stored) column name, identity
        where no rename/re-add ever diverged them."""
        m = m or self.manifest()
        p = m.properties.get("physical_names") or {}
        return {n: p.get(n, n) for n, _ in m.columns}

    def rename_history(self, m: Manifest | None = None) -> dict[str, list[str]]:
        """logical column -> former logical names (payload aliases)."""
        m = m or self.manifest()
        return {k: list(v) for k, v in (m.properties.get("rename_history") or {}).items()}

    def to_physical(self, df: DataFrame, m: Manifest) -> DataFrame:
        """Project a logical-named frame to ``m``'s stored (physical)
        column names for a staged write. No-op (no extra Project node)
        on tables that never renamed/re-added."""
        pm = self._phys_map(m)
        if all(l == p for l, p in pm.items()):
            return df
        return df.select(
            *[
                F.col(f.name).alias(pm[f.name]) if pm.get(f.name, f.name) != f.name
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )

    def _evolve(self, m: Manifest, ddl: dict[str, Any]) -> bool:
        """Apply ONE ``schema_change`` payload to ``m`` in place, in the
        order add, widen, rename, drop (renames see the post-add
        schema). A pure function of the manifest: apply_batch plans a
        batch's DDL on a copy of the head and re-runs it inside the
        batch's one commit. Raises ValueError on an invalid change;
        returns False when nothing changed, so a DDL commit declines.
        An added name whose physical column was ever used (dropped, or
        the frozen storage name of a renamed column) gets the FRESH
        physical name ``<name>__f<snapshot_id>`` of the adding commit,
        so old file data cannot resurface; a dropped physical name is
        retired forever (``used_physical``) — Iceberg's field-id
        non-resurrection rule, in name form."""
        props = m.properties
        # working copies of the name maps, written back once at the end
        phys = dict(props.get("physical_names") or {})
        hist = {k: list(v) for k, v in (props.get("rename_history") or {}).items()}

        def pmap() -> dict[str, str]:
            return {n: phys.get(n, n) for n, _ in m.columns}

        used = set(props.get("used_physical") or []) | set(pmap().values())
        existing = {n for n, _ in m.columns}
        added = [(n, t) for n, t in (ddl.get("add_columns") or {}).items() if n not in existing]
        # snapshot ids are unique across ref chains: two refs forked at
        # one parent never mint the same physical column
        for n, _t in added:
            p = n if n not in used else f"{n}__f{m.snapshot_id}"
            if p != n:
                phys[n] = p
            used.add(p)
            # a re-added name is a FRESH field: it owns its payload key
            # and inherits no alias history
            hist.pop(n, None)
            for k in list(hist):
                hist[k] = [x for x in hist[k] if x != n]
                if not hist[k]:
                    del hist[k]
        m.columns = m.columns + added
        changed = bool(added)

        widen = ddl.get("widen_columns") or {}
        unknown = set(widen) - {n for n, _ in m.columns}
        if unknown:
            raise ValueError(f"widen_columns: no such column(s) {sorted(unknown)}")
        out: list[tuple[str, str]] = []
        for n, t in m.columns:
            want = widen.get(n)
            if want is not None and want != t:
                if (t, want) not in self.SAFE_WIDENINGS:
                    raise ValueError(
                        f"widen_columns: unsafe promotion {n}: {t} -> {want}; "
                        f"allowed: {sorted(self.SAFE_WIDENINGS)}"
                    )
                t, changed = want, True
            out.append((n, t))
        m.columns = out

        mapping = ddl.get("rename_columns") or {}
        if mapping:
            names = {n for n, _ in m.columns}
            reserved = {S.LSN_META_COL, S.DELETED_META_COL, S.SETMASK_META_COL}
            if len(set(mapping.values())) != len(mapping):
                raise ValueError("rename_columns: duplicate target names")
            for old, new in mapping.items():
                if old in ("conv_id", "turn_idx"):
                    raise ValueError(f"rename_columns: cannot rename key column {old!r}")
                if old not in names:
                    raise ValueError(f"rename_columns: no such column {old!r}")
                # the target may be a name simultaneously renamed AWAY
                # (swap semantics); anything else that exists collides
                if new in (names - set(mapping)) or new in reserved:
                    raise ValueError(f"rename_columns: target name {new!r} collides")
            pm = pmap()
            # two passes so a simultaneous swap can't pop an entry the
            # other rename just wrote
            for n in mapping:
                phys.pop(n, None)
            old_hist = {n: hist.pop(n, []) for n in mapping}
            cols: list[tuple[str, str]] = []
            for n, t in m.columns:
                if n not in mapping:
                    cols.append((n, t))
                    continue
                new = mapping[n]
                if pm[n] != new:
                    phys[new] = pm[n]
                hist[new] = [x for x in (old_hist[n] + [n]) if x != new]
                cols.append((new, t))
            # a rename target claims its name exclusively: strip it from
            # every OTHER column's alias list so one payload key can't
            # feed two columns
            targets = set(mapping.values())
            for k in list(hist):
                if k not in targets:
                    hist[k] = [x for x in hist[k] if x not in targets]
                if not hist[k]:
                    del hist[k]
            m.columns = cols
            changed = True

        names = ddl.get("drop_columns") or []
        if names:
            missing = set(names) - {n for n, _ in m.columns}
            if missing:
                raise ValueError(f"drop_columns: no such column(s) {sorted(missing)}")
            if {"conv_id", "turn_idx"} & set(names):
                raise ValueError("drop_columns: cannot drop key columns conv_id/turn_idx")
            dropped_phys = {pmap()[n] for n in names}
            phys = {k: v for k, v in phys.items() if k not in names}
            hist = {k: v for k, v in hist.items() if k not in names}
            patched = props.get("patched_columns")
            if patched is not None:
                props["patched_columns"] = sorted(set(patched) - dropped_phys)
            m.columns = [(n, t) for n, t in m.columns if n not in names]
            changed = True

        if added or names:
            props["used_physical"] = sorted(used)
        _put_nonempty(props, "physical_names", phys)
        _put_nonempty(props, "rename_history", hist)
        return changed

    # Each public DDL method is one metadata-only commit of ``_evolve``;
    # data files are never touched, and old snapshots time-travel under
    # their own names.

    def _ddl(self, ddl: dict[str, Any], ref: str) -> None:
        self._commit(lambda m: self._evolve(m, ddl), ref=ref)

    def add_columns(self, new_cols: dict[str, str], ref: str = "main") -> None:
        """ADD COLUMN(s); a previously used name gets a fresh physical
        column ``<name>__f<snapshot_id>`` (see ``_evolve``)."""
        self._ddl({"add_columns": new_cols}, ref)

    def widen_columns(self, changes: dict[str, str], ref: str = "main") -> None:
        """WIDEN COLUMN type(s), e.g. ``{"tool_latency_ms": "long"}`` on
        an int column; only SAFE_WIDENINGS."""
        self._ddl({"widen_columns": changes}, ref)

    def rename_columns(self, mapping: dict[str, str], ref: str = "main") -> None:
        """RENAME COLUMN(s) ``{old: new}``; the stored name stays frozen."""
        self._ddl({"rename_columns": mapping}, ref)

    def drop_columns(self, names: list[str], ref: str = "main") -> None:
        """DROP COLUMN(s); the physical name is retired forever."""
        self._ddl({"drop_columns": names}, ref)

    # physically safe type promotions: the parquet scan upcasts these
    # natively (int32 pages read under a bigint read schema, float under
    # double — probed on this Spark build, pinned by
    # test_widen_columns_* in tests/test_cdc.py), so widening is a
    # METADATA-ONLY commit and existing delta files never rewrite —
    # Iceberg's type-promotion evolution rule.
    SAFE_WIDENINGS = {("int", "long"), ("float", "double")}

    # ------------------------------------------------------------ read

    def _scan(self, m: Manifest, buckets: list[int] | None = None) -> DataFrame:
        """Every stored row version of ``m``'s files in ``buckets`` (all
        when None), delta files unresolved, with the metadata columns."""
        sel = (
            m.buckets
            if buckets is None
            else {str(b): m.buckets.get(str(b), ()) for b in buckets}
        )
        return self._read_rel_files(m, [p for ps in sel.values() for p in ps])

    def read_raw(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        ref: str = "main",
    ) -> DataFrame:
        """Every stored row version (delta files unresolved) with both
        metadata columns — maintenance/compaction input. ``version``
        time-travels to an older committed snapshot; ``ref`` reads a
        branch head instead of main."""
        return self._scan(self.manifest(version, ref), buckets)

    def _read_rel_files(self, m: Manifest, rels: list[str]) -> DataFrame:
        """Raw scan of an explicit manifest-relative file list under the
        manifest's (evolved) schema — the shared tail of ``_scan``, the
        stats-pruned read_key path and read_changes."""
        cols = [(n, S.type_from_name(t)) for n, t in m.columns]
        # _set rides every raw read; files written before the mask
        # existed (or by compaction collapse) simply read it as NULL —
        # i.e. every row version is a full-row base, which is exactly
        # what they are.
        schema = S.transcripts_schema(
            cols, with_lsn=True, with_deleted=True, with_setmask=True
        )
        if not rels:
            return self.spark.createDataFrame([], schema)
        pm = self._phys_map(m)
        paths = [os.path.join(self.root, p) for p in rels]
        if all(l == p for l, p in pm.items()):
            return self.spark.read.schema(schema).parquet(*paths)
        # renamed/re-added columns: scan under the stored (physical)
        # names of THIS manifest's era, alias back to logical — a
        # metadata-only Project, pushed into the scan by Catalyst
        phys_schema = S.transcripts_schema(
            [(pm[n], dt) for n, dt in cols],
            with_lsn=True, with_deleted=True, with_setmask=True,
        )
        return self.spark.read.schema(phys_schema).parquet(*paths).select(
            *[F.col(pm[n]).alias(n) for n, _ in cols],
            F.col(S.LSN_META_COL),
            F.col(S.DELETED_META_COL),
            F.col(S.SETMASK_META_COL),
        )

    def read(
        self,
        buckets: list[int] | None = None,
        version: int | None = None,
        ref: str = "main",
    ) -> DataFrame:
        """Merge-on-read resolution: one row per (conv_id, turn_idx).
        Row mode (default): the max-``_lsn`` version across all delta
        files (ties are re-delivered identical rows; any survivor is
        the same row). Column mode (sticky, once the table has seen a
        partial update — the ``patched_columns`` property is present):
        fold patch set-masks onto the latest full-row base
        (``_fold_resolve``).
        Both modes collapse to full rows; ``_set`` never leaks out.
        Tombstones are kept with ``_lsn`` and ``_deleted``, so callers
        see deletions; ``read_final`` filters them."""
        m = self.manifest(version, ref)
        return self._resolve(self._scan(m, buckets), m)

    def read_final(
        self,
        version: int | None = None,
        tag: str | None = None,
        ref: str = "main",
        buckets: list[int] | None = None,
    ) -> DataFrame:
        """User-facing view: LWW-resolved, tombstones filtered,
        metadata columns dropped. ``version`` time-travels; ``tag``
        resolves a named pin (create_tag) to its version; ``ref``
        reads a branch head; ``buckets`` scopes the scan (the
        incremental view's changed-group recompute)."""
        m = self.manifest(version, ref, tag)
        return self._resolve_final(self._scan(m, buckets), m)

    def read_key(self, conv_id: str, version: int | None = None) -> DataFrame:
        """Point lookup: the live turns of ONE conversation, touching
        only the files that can CONTAIN it. Two pruning levels, both
        manifest-resident and applied driver-side to the literal key:

        1. bucket transform — the Iceberg bucket-partition-pruning
           story: the scan is O(one bucket), not O(table);
        2. per-file conv_id min/max ranges (``Manifest.file_stats``,
           the Iceberg DataFile lower/upper-bounds analog) — delta
           files are written sorted by conv_id, and the transcript
           workload creates conversations over time, so a bucket's
           accumulated delta generations have tight, mostly-disjoint
           key ranges; a recent-key lookup skips old generations
           entirely. At 100 TB a bucket holds thousands of files and
           this is the difference between O(bucket) and O(files
           actually holding the key).

        Files with no recorded stats (pre-stats tables, foreign
        writers) are always read — pruning is never unsound.

        The lookup costs one Spark job: the bucket comes from the
        driver-side XXH64 mirror (``bucket_of``), and the scan is
        coalesced to one partition, which satisfies the resolve's
        per-key distribution — one conversation resolves in one task
        with no exchange."""
        m = self.manifest(version)
        b = bucket_of(conv_id, m.n_buckets)
        stats = m.file_stats
        rels = [
            r
            for r in m.buckets.get(str(b), [])
            if _stats_admit(stats.get(r), conv_id)
        ]
        raw = self._read_rel_files(m, rels).where(F.col("conv_id") == conv_id)
        return self._resolve_final(raw.coalesce(1), m)

    def _resolve(self, raw: DataFrame, m: Manifest) -> DataFrame:
        """Row-LWW, or column-fold when ``m`` has ``patched_columns``,
        over an already-scoped raw frame; keeps ``_lsn`` and ``_deleted``."""
        if "patched_columns" in m.properties:
            return self._fold_resolve(raw, m)
        w = Window.partitionBy("conv_id", "turn_idx").orderBy(
            F.col(S.LSN_META_COL).desc()
        )
        return (
            raw.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", S.SETMASK_META_COL)
        )

    def _resolve_final(self, raw: DataFrame, m: Manifest) -> DataFrame:
        """``_resolve`` + tombstone filter + metadata drop (read_final,
        read_key)."""
        return self._resolve(raw, m).filter(
            ~F.coalesce(F.col(S.DELETED_META_COL), F.lit(False))
        ).drop(S.LSN_META_COL, S.DELETED_META_COL)

    def _fold_resolve(self, raw: DataFrame, m: Manifest) -> DataFrame:
        """COLUMN-level resolution for tables with partial updates
        (sparse after-images, the Hudi/Paimon partial-update merge
        analog): per key, each column's value comes from the highest-LSN
        version that SET it — full-row versions (``_set`` NULL: insert /
        update / delete tombstones) are *bases* that set every column,
        patches set exactly their mask. Because every base enters every
        column's candidate set, a patch below the latest base loses and
        a newer base resets the row — no explicit base_lsn pass is
        needed, ONE aggregate resolves everything (scale: same single
        shuffle as the row path; struct-max buffers force SortAggregate
        rather than hash — max_by compiles identically — but max() of
        (lsn, value) structs is associative, so the map-side PARTIAL
        aggregate still pre-reduces to one row per key per partition
        before the exchange, which the window path cannot do; plan
        pinned by test_partial_fold_resolve_single_shuffle_no_join).

        Output is a FULL row per key stamped ``_lsn = max(lsn)`` over
        all versions and ``_deleted`` from the winning base — a shape
        that is itself a valid base, which is why compaction can
        resolve-and-rewrite without destroying future patch semantics
        (a later patch overlays the collapsed row exactly as it would
        the original chain). Keys with no base ever (orphan patches —
        nothing to patch) are dropped, the read-side analog of "UPDATE
        matched zero rows". Deterministic: LSNs are unique per key;
        re-delivered duplicates tie with identical payloads.

        Cost scales with the PATCHED column set, not the table width:
        the manifest tracks which columns any patch has ever set
        (``patched_columns``, unioned per batch by apply_batch), and
        only those get a per-column struct-max; every never-patched
        column rides the single winning-base struct for free (its
        winner is by definition the latest base). On the bench table
        (8 columns, patches touching 3) this cut the fold read from
        ~1.9x to near the row-LWW path. An empty patched set folds every
        column through the winning base."""
        data_cols = [n for n, _ in m.columns if n not in ("conv_id", "turn_idx")]
        # masks and patched_columns store PHYSICAL names (stable across
        # renames, era-unique across drop/re-add) — translate per the
        # current manifest; identity on never-renamed tables
        pm = self._phys_map(m)
        pp = set(m.properties["patched_columns"])
        patched = {c for c in data_cols if pm[c] in pp}
        base_cols = [c for c in data_cols if c not in patched]
        is_base = F.col(S.SETMASK_META_COL).isNull()
        lsn = F.col(S.LSN_META_COL)
        aggs = [
            F.max(
                F.when(
                    is_base,
                    F.struct(
                        lsn.alias("l"),
                        F.coalesce(F.col(S.DELETED_META_COL), F.lit(False)).alias("d"),
                        *[F.col(c).alias(c) for c in base_cols],
                    ),
                )
            ).alias("__base"),
            F.max(lsn).alias("__lsn"),
        ]
        for c in data_cols:
            if c not in patched:
                continue
            cand = is_base | F.array_contains(F.col(S.SETMASK_META_COL), F.lit(pm[c]))
            aggs.append(
                F.max(F.when(cand, F.struct(lsn.alias("l"), F.col(c).alias("v")))).alias(
                    f"__w_{c}"
                )
            )
        return (
            raw.groupBy("conv_id", "turn_idx")
            .agg(*aggs)
            .filter(F.col("__base").isNotNull())
            .select(
                "conv_id",
                "turn_idx",
                *[
                    (
                        F.col(f"__w_{c}").getField("v") if c in patched
                        else F.col("__base").getField(c)
                    ).alias(c)
                    for c in data_cols
                ],
                F.col("__lsn").alias(S.LSN_META_COL),
                F.col("__base").getField("d").alias(S.DELETED_META_COL),
            )
        )

    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental consumption (CDC-out): every row VERSION the
        append commits after ``from_version`` up to ``to_version``/
        current wrote — the files ``commits.appended_files`` keeps for
        that window, nothing else. Downstream consumers chain pipelines
        without rescanning the table (Iceberg incremental append scans
        / Hudi incremental queries). Tombstones appear with ``_deleted
        = true`` so deletions propagate; ``_lsn`` orders multiple
        versions of a key; ``_set`` carries partial-update masks.

        The rule is the CDF stream's: a rewrite commit (compaction /
        purge / rebucket) re-states versions the window already holds
        and contributes nothing, so a window across one stays
        incremental. A rollback that changed files raises ValueError
        and a window pruned by gc_orphans raises FileNotFoundError; the
        caller re-syncs with a full read."""
        m_to = self.manifest(to_version)
        rels = appended_files(self.root, from_version, m_to.version)
        return self._read_rel_files(m_to, [f for f, _ in rels])

    # ------------------------------------------------------------ write

    def is_batch_committed(self, app_id: str, batch_id: int, ref: str = "main") -> bool:
        committed = self.manifest(ref=ref).properties.get("committed_batches", {})
        return batch_id <= committed.get(app_id, -1)

    def quarantine_dir(self, batch_id: int, app_id: str = "default") -> str:
        """Dead-letter location for ``app_id``'s batch ``batch_id``
        poison rows (original envelope rows, replayable). App-scoped to
        mirror the per-app exactly-once commit ledger: two apps applying
        to the same table with overlapping batch ids must not overwrite
        each other's dead letters (apply_batch writes with
        mode('overwrite') for idempotent redelivery). Written by
        apply_batch in quarantine mode; outside the data/manifest
        lifecycle, so GC and compaction never touch it."""
        return os.path.join(
            self.root, "_quarantine", f"app={_safe_dirname(app_id)}", f"batch={batch_id}"
        )

    def read_quarantine(self) -> DataFrame:
        """All quarantined envelope rows across apps and batches (empty
        frame with the envelope schema when nothing was ever
        quarantined). Re-applying a fixed subset is just ``apply_batch``
        over this. Layout: ``_quarantine/app=<app>/batch=<id>``."""
        base = os.path.join(self.root, "_quarantine")
        dirs: list[str] = []
        if os.path.isdir(base):
            for d in sorted(os.listdir(base)):
                p = os.path.join(base, d)
                dirs.extend(os.path.join(p, b) for b in sorted(os.listdir(p)))
        if not dirs:
            return self.spark.createDataFrame([], S.ENVELOPE_SCHEMA)
        return self.spark.read.schema(S.ENVELOPE_SCHEMA).parquet(*dirs)

    def new_staging_dir(self) -> str:
        """A staging directory UNDER the table root: adopted files move
        with a same-filesystem rename (atomic, no copy) regardless of
        where the table lives."""
        d = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        os.makedirs(d, exist_ok=True)
        return d

    def _adopt(
        self, staged_dir: str | None, buckets: list[int]
    ) -> tuple[dict[str, list[str]], dict[str, list[str]]]:
        """Move ``staged_dir/__bucket=N/*.parquet`` into data/ (outside
        the commit lock) and return (bucket -> new relative file paths,
        their footer key-range stats)."""
        out: dict[str, list[str]] = {}
        if staged_dir is None:
            return out, {}
        snapshot = uuid.uuid4().hex
        for b in buckets:
            bdir = os.path.join(staged_dir, f"__bucket={b}")
            rels: list[str] = []
            if os.path.isdir(bdir):
                for i, fn in enumerate(sorted(os.listdir(bdir))):
                    if not fn.endswith(".parquet"):
                        continue
                    rel = f"data/f-{snapshot}-{b}-{i}.parquet"
                    shutil.move(os.path.join(bdir, fn), os.path.join(self.root, rel))
                    rels.append(rel)
            out[str(b)] = rels
        shutil.rmtree(staged_dir, ignore_errors=True)
        return out, self._collect_file_stats([r for rs in out.values() for r in rs])

    def _collect_file_stats(self, rels: list[str]) -> dict[str, list[str]]:
        """Per-file [min, max] of ``conv_id`` read from the parquet
        FOOTERS of just-adopted files (row-group statistics unioned per
        file). Footer-only: no data pages are read, so the cost per
        commit is O(new files) metadata fetches — the same work an
        Iceberg writer does to fill DataFile.lower_bounds/upper_bounds.
        Files whose stats are missing, non-string, or suspiciously long
        (possible writer-side truncation, which would make range
        pruning unsound) are omitted — readers treat a missing entry as
        "may contain anything"."""
        import pyarrow.parquet as pq

        out: dict[str, list[str]] = {}
        for rel in rels:
            try:
                md = pq.ParquetFile(os.path.join(self.root, rel)).metadata
                idx = next(
                    i
                    for i in range(md.num_columns)
                    if md.schema.column(i).name == "conv_id"
                )
                mins: list[str] = []
                maxs: list[str] = []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError("row group without min/max")
                    lo, hi = st.min, st.max
                    if not (isinstance(lo, str) and isinstance(hi, str)):
                        raise ValueError("non-string conv_id stats")
                    if len(lo) > _STATS_MAX_LEN or len(hi) > _STATS_MAX_LEN:
                        raise ValueError("stats too long to trust")
                    mins.append(lo)
                    maxs.append(hi)
                if mins:
                    out[rel] = [min(mins), max(maxs)]
            except Exception:
                continue
        return out

    def _commit_batch(
        self,
        staged_dir: str | None,
        affected_buckets: list[int],
        ledger: tuple[str, int, dict[str, int]],
        lineage_row: dict[str, Any],
        ref: str,
        plan: Manifest,
        ddl: list[dict[str, Any]],
        patched: list[str] | None,
        properties: dict[str, Any],
    ) -> str:
        """ONE snapshot per micro-batch (``apply_batch``): its DDL, its
        partial-update flips, its files, ledger and lineage row. The
        staged files are APPENDED (no rewrite): an append commutes with
        any concurrent commit, so it re-applies to the fresh head.

        ``plan`` is the head the batch was written against, with ``ddl``
        (its ``schema_change`` payloads, in LSN order) already run over
        it; its ``snapshot_id`` becomes this commit's, so fresh physical
        names agree. The DDL re-runs on the fresh head; a schema era
        differing from the plan's means a concurrent schema change
        landed, and the commit raises ValueError (the adopted files are
        left for ``gc_orphans``; re-delivery plans again). Compaction
        never touches columns. ``patched`` (not None: the batch carried
        partial updates) goes through ``_mark_partial``; ``properties``
        are set verbatim (the bootstrap's ``snapshot_lsn`` fence)."""
        adopted, stats = self._adopt(staged_dir, affected_buckets)

        def mutate(m: Manifest) -> None:
            for d in ddl:
                self._evolve(m, d)
            if _era(m) != _era(plan):
                raise ValueError(
                    f"batch {ledger[1]}: a concurrent schema change landed on "
                    f"{ref!r} after the batch was planned; re-deliver it"
                )
            if patched is not None:
                _mark_partial(m, patched)
            m.properties.update(properties)
            for b, rels in adopted.items():
                m.buckets[b] = list(m.buckets.get(b, [])) + rels
            m.file_stats.update(stats)

        return self._commit(
            mutate, ref=ref, lineage=lineage_row, ledger=ledger,
            snapshot_id=plan.snapshot_id,
        )

    def commit_merged_buckets(
        self,
        staged_dir: str | None,
        affected_buckets: list[int],
        lineage_row: dict[str, Any],
        base_buckets: dict[str, list[str]] | None = None,
        ref: str = "main",
    ) -> str:
        """Compaction-style commit: REPLACE each affected bucket's file
        list with the staged (resolved) files. Returns the snapshot id.
        A rewrite lands no batch, so the exactly-once ledger and the
        watermarks are left alone.

        Concurrency (the Iceberg rewrite-vs-append conflict rule):
        ``base_buckets`` is the file set the compaction READ. Inside the
        commit lock, any file appended to the bucket since that base —
        by an apply that committed while compaction ran — is RETAINED on
        top of the staged files; a blind swap would silently drop those
        rows. Read-side LWW makes the union correct (newer deltas simply
        win the merge window again)."""
        adopted, stats = self._adopt(staged_dir, affected_buckets)
        base = base_buckets or {}

        def mutate(m: Manifest) -> None:
            for b, rels in adopted.items():
                known = set(base.get(b, m.buckets.get(b, [])))
                appended_since = [f for f in m.buckets.get(b, []) if f not in known]
                m.buckets[b] = rels + appended_since
            m.file_stats.update(stats)

        return self._commit(mutate, ref=ref, lineage=lineage_row)

    def set_property(self, key: str, value: Any, ref: str = "main") -> None:
        """Commit a single table-property mutation as its own manifest
        version (lock-serialized, data files untouched), for durable
        control-plane facts that must survive restarts."""

        def mutate(m: Manifest) -> None:
            m.properties[key] = value

        self._commit(mutate, ref=ref, lineage={"op": "set_property", "key": key})

    # ------------------------------------------------------------ tags

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin a committed version (default: main's head) under an
        immutable NAME (the Iceberg snapshot-tag analog): audit pins,
        reproducibility pins ("the table as training run X saw it"),
        rollback anchors. A tag is a ref, not a commit: it lives in the
        ref store beside the branches, so creating or dropping one
        writes no manifest, moves no head and adds no lineage row. A
        tagged version is PROTECTED from retention — ``gc_orphans`` /
        ``startup_maintenance`` keep its manifest and data files alive
        regardless of ``keep_versions`` — so time travel to it works
        until ``drop_tag``. Tag names are single-assignment (re-tagging
        raises; drop first) because downstream consumers treat a tag as
        an immutable fact. Returns the pinned version."""
        return self._create_ref(
            "tag", name, version, f"tag {name!r} already pins v{{v}}; drop_tag first"
        )

    def drop_tag(self, name: str) -> None:
        """Release a tag; its version re-enters normal retention and the
        next GC pass may expire it."""
        self._drop_ref("tag", name)

    def tags(self) -> dict[str, int]:
        """Tag name -> pinned version."""
        return commits.read_refs(self.root, "tag")

    def resolve_tag(self, name: str) -> int:
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"no such tag {name!r}")
        return tags[name]

    def _create_ref(self, kind: str, name: str, version: int | None, taken: str) -> int:
        """Point a new ``kind`` ref at ``version`` (default: main's
        head), which must be readable: one ref-store write under the
        commit lock. ``taken`` is the refusal when ``name`` exists
        (``{v}``: the version it points at)."""
        with commits.locked(self.root):
            refs = commits.read_refs(self.root, kind)
            if name in refs:
                raise ValueError(taken.format(v=refs[name]))
            v = head_version(self.root) if version is None else int(version)
            self.manifest(v)  # must be readable
            refs[name] = v
            commits.write_refs(self.root, refs, kind)
            return v

    def _drop_ref(self, kind: str, name: str, check=None) -> None:
        """Delete a ``kind`` ref under the commit lock, after
        ``check(version)`` (which raises to refuse)."""
        with commits.locked(self.root):
            refs = commits.read_refs(self.root, kind)
            if name not in refs:
                raise ValueError(f"no such {kind} {name!r}")
            if check is not None:
                check(refs[name])
            del refs[name]
            commits.write_refs(self.root, refs, kind)

    # ------------------------------------------------------------ branches

    def create_branch(self, name: str, version: int | None = None) -> int:
        """Create a MUTABLE named ref at ``version`` (default: main's
        head). Commits made with ``ref=name`` advance the branch only;
        main never sees them until ``fast_forward``. The branch chain
        inherits the fork-point manifest wholesale — schema, watermarks
        and the exactly-once ledger — so a re-delivered batch that
        already landed on main no-ops on the branch too. Returns the
        fork version."""
        if name == "main" or not name:
            raise ValueError(f"invalid branch name {name!r}")
        return self._create_ref(
            "branch", name, version, f"branch {name!r} already exists at v{{v}}"
        )

    def drop_branch(self, name: str, force: bool = False) -> None:
        """Delete a branch ref; its commits become GC-able once they
        age out of every other ref's retention window. Refuses when the
        branch holds UNPUBLISHED commits (its head is not an ancestor
        of main — dropping would silently discard applied batches; the
        git ``-d`` vs ``-D`` distinction) unless ``force=True``."""

        def published(head: int) -> None:
            if not force and not self._is_ancestor(head, head_version(self.root)):
                raise ValueError(
                    f"branch {name!r} (v{head}) has unpublished commits; "
                    "fast_forward/cherry_pick first, or drop_branch(..., "
                    "force=True) to discard them"
                )

        self._drop_ref("branch", name, published)

    def branches(self) -> dict[str, int]:
        return commits.read_refs(self.root)

    def _is_ancestor(self, ancestor: int, descendant: int) -> bool:
        """Walk ``descendant``'s parent chain looking for ``ancestor``.
        Metadata-only: one small JSON read per hop, bounded by the
        retention window (a pruned hop means the chain left the
        retained set — not an ancestor we can prove)."""
        return any(v == ancestor for v, _ in ancestry(self.root, descendant))

    def fast_forward(self, ref: str, from_branch: str) -> int:
        """Fast-forward ``ref`` (usually "main") to ``from_branch``'s
        head — the Iceberg ``fast_forward`` publish step of the audit-
        branch pattern. STRICTLY fast-forward: ``ref``'s head must be
        an ancestor of the branch head, i.e. nothing was committed to
        ``ref`` since the fork (otherwise the move would silently drop
        those commits — that needs a merge/cherry-pick, which this
        engine does not do; the caller rebases by re-applying the
        branch's batches, which the per-app ledger makes idempotent).
        Pure pointer swing: no data file is touched, the branch's
        ledger/watermarks/schema become ``ref``'s atomically."""
        with commits.locked(self.root):
            target = head_version(self.root, from_branch)
            cur = head_version(self.root, ref)
            if cur == target:
                return target
            if not self._is_ancestor(cur, target):
                raise ValueError(
                    f"cannot fast-forward {ref!r} (v{cur}) to {from_branch!r} "
                    f"(v{target}): v{cur} is not an ancestor of v{target}"
                )
            commits.set_head(self.root, ref, target)
            return target

    @staticmethod
    def _single_batch_delta(
        op: str, version: int, src: Manifest, par: Manifest
    ) -> tuple[str, int]:
        """The (app_id, batch_id) a commit added to the exactly-once
        ledger vs its parent — cherry_pick/replay_commit only handle
        commits that landed exactly one batch (DDL and maintenance
        commits add none; merged/multi-app commits are ambiguous)."""
        src_ledger = src.properties.get("committed_batches", {})
        par_ledger = par.properties.get("committed_batches", {})
        app_delta = {a: b for a, b in src_ledger.items() if par_ledger.get(a) != b}
        if len(app_delta) != 1:
            raise ValueError(
                f"{op}: v{version} is not a single-batch apply commit "
                f"(ledger delta: {app_delta})"
            )
        ((app_id, batch_id),) = app_delta.items()
        return app_id, int(batch_id)

    def cherry_pick(self, version: int, ref: str = "main") -> str | None:
        """Re-apply ONE append-only commit (usually a branch commit)
        onto ``ref``'s head as a new commit — the Iceberg
        cherrypickSnapshot analog, and the escape hatch when
        ``fast_forward`` is refused because the target diverged: pick
        the branch's commits one by one instead of replaying them from
        source. Copies the commit's file ADDITIONS (no data rewrite —
        read-side LWW makes the union correct even when key ranges
        overlap), its file stats, and its exactly-once ledger +
        watermark DELTAS vs its parent, so the picked batch's
        re-delivery no-ops on ``ref`` exactly as if it had been applied
        there. Refuses rewrite commits (compaction/purge/rebucket) —
        their file lists are relative to a base the target may not
        share (the Iceberg limitation). Idempotent: picking a batch the
        target ledger already holds returns None without committing.

        Partial-update read semantics travel with the files: when the
        source chain reads by column fold (it has ``patched_columns``),
        the target turns it on too and unions the source's set —
        otherwise the target would read the picked patch rows as
        full-row bases."""
        src = self.manifest(version)
        files = read_manifest(self.root, version)["files"]
        kind, added, _ = commit_kind(files, src.parent)
        if kind == "create":
            raise ValueError("cherry_pick: the create commit cannot be picked")
        if kind == "rewrite":
            raise ValueError(
                f"cherry_pick: v{version} is a rewrite commit "
                "(compaction/purge/rebucket); only append commits can be picked"
            )
        par = self.manifest(src.parent)
        added_by_b = {b: list(fs) for b, fs in files.get("added", {}).items() if fs}
        app_id, batch_id = self._single_batch_delta("cherry_pick", version, src, par)
        if self.is_batch_committed(app_id, int(batch_id), ref=ref):
            return None  # already on the target chain — fast-path no-op
        src_wm = src.properties.get("watermarks", {})
        par_wm = par.properties.get("watermarks", {})
        wm_delta = {p: int(l) for p, l in src_wm.items() if par_wm.get(p) != l}
        stats = {f: src.file_stats[f] for f in added if f in src.file_stats}
        src_patched = src.properties.get("patched_columns")
        # schema-era facts of the SOURCE commit, compared against the
        # target head INSIDE the lock: a branch data commit written
        # after branch-side DDL carries columns / physical-name eras the
        # target cannot read correctly (an added column silently lost,
        # or post-drop rows folding as all-NULL bases) — and the commit
        # would mark the batch committed, so replay could never repair
        # it. Schema-diverged chains need replay-from-source, not a pick.
        src_era = _era(src)

        def mutate(m: Manifest) -> bool | None:
            # re-check idempotence UNDER the commit lock: a concurrent
            # direct apply of the same (app_id, batch_id) between the
            # fast-path check above and this commit must no-op here,
            # not double-land the batch
            committed = m.properties.get("committed_batches", {})
            if int(batch_id) <= int(committed.get(app_id, -1)):
                return False
            if _era(m) != src_era:
                raise ValueError(
                    f"cherry_pick: v{version} was written under a different "
                    f"schema era than {ref!r}'s head (columns/physical-name "
                    "divergence); replay the batch from source instead"
                )
            for b, rels in added_by_b.items():
                have = set(m.buckets.get(b, []))
                m.buckets[b] = list(m.buckets.get(b, [])) + [
                    r for r in rels if r not in have
                ]
            m.file_stats.update(stats)
            if src_patched is not None:
                # physical names match: the schema-era guard above
                _mark_partial(m, src_patched)

        return self._commit(
            mutate,
            ref=ref,
            lineage={"op": "cherry_pick", "source_version": int(version),
                     "batch_id": int(batch_id)},
            ledger=(app_id, int(batch_id), wm_delta),
        )

    def replay_commit(self, version: int, ref: str = "main", apply_cfg=None):
        """Re-APPLY one append commit's batch onto ``ref`` through the
        normal apply path — the escape hatch cherry_pick's schema-era
        guard points at ("replay the batch from source instead").
        Where cherry_pick copies FILES and therefore requires identical
        schema eras, replay re-derives the commit's row versions under
        the SOURCE commit's own era (``read_changes`` aliases
        physical -> that era's logical names at the scan),
        re-translates them to WAL envelopes (``cdf_to_envelope``, the
        replication kernel), and lands them through ``apply_batch``
        under the TARGET era — the normalizer's rename-history
        coalescing and column-set projection absorb the divergence:
        a column the target also has (under any name in its rename
        history) lands there; a column the target lacks folds away.

        Columns are matched across eras by PHYSICAL identity: a field
        the two refs call different names (the branch renamed it, the
        target didn't — or vice versa) is re-keyed to the TARGET's
        current logical name before the envelope is built, so its
        values land instead of folding away as an unknown payload key.
        A translation that would collide two batch columns onto one
        name (the target recycled a name the source era still uses) is
        refused — those chains need a full resync, not a replay.

        Exactly-once is preserved verbatim: the source commit's
        (app_id, batch_id) ledger delta is replayed as-is, so
        re-delivery of the ledger's CURRENT batch no-ops
        (``BatchMetrics.skipped``). A batch OLDER than the target
        ledger's high-water mark is refused rather than silently
        skipped: the ledger cannot distinguish "landed earlier" from
        "never landed", so replay a diverged chain's commits
        oldest-first. Maintenance rewrites and DDL/metadata commits
        land no batch, so ``_single_batch_delta`` refuses them; a
        rollback is refused by ``read_changes``. Returns the apply's
        ``BatchMetrics``."""
        import dataclasses

        from audience_behavior_semantic_etl_spark.cdc.apply import (
            ApplyConfig,
            apply_batch,
        )
        from audience_behavior_semantic_etl_spark.cdc.replicate import (
            cdf_to_envelope,
        )

        src = self.manifest(version)
        if src.parent is None:
            raise ValueError("replay_commit: the create commit cannot be replayed")
        par = self.manifest(src.parent)
        app_id, batch_id = self._single_batch_delta(
            "replay_commit", version, src, par
        )
        tgt = self.manifest(ref=ref)
        committed = int(tgt.properties.get("committed_batches", {}).get(app_id, -1))
        if batch_id < committed:
            raise ValueError(
                f"replay_commit: {app_id} batch {batch_id} is older than "
                f"{ref!r}'s ledger high-water mark {committed}; the ledger "
                "cannot tell whether it ever landed — replay commits "
                "oldest-first"
            )
        src_pm = self._phys_map(src)
        tgt_inv = {p: l for l, p in self._phys_map(tgt).items()}
        ren = {
            l: tgt_inv[p]
            for l, p in src_pm.items()
            if p in tgt_inv and tgt_inv[p] != l
        }
        rows = self.read_changes(src.parent, version)
        if ren:
            final = [ren.get(c, c) for c in rows.columns]
            if len(set(final)) != len(final):
                raise ValueError(
                    f"replay_commit: physical-identity translation {ren} "
                    "collides with another source-era column; the chains "
                    "need a full resync, not a replay"
                )
            rows = rows.select(
                *[F.col(c).alias(ren.get(c, c)) for c in rows.columns]
            )
        env = cdf_to_envelope(
            rows,
            {p: ren.get(l, l) for l, p in src_pm.items()},
            {ren.get(l, l): v for l, v in self.rename_history(src).items()},
        )
        cfg = dataclasses.replace(
            apply_cfg or ApplyConfig(), app_id=app_id, branch=ref
        )
        return apply_batch(env, self, int(batch_id), cfg)

    def rollback(self, version: int | None = None, tag: str | None = None,
                 ref: str = "main") -> int:
        """Roll ``ref`` back to an OLDER version of its own chain (the
        Iceberg rollback-to-snapshot analog): restores an ancestor's
        state — no data file is touched, the abandoned commits stay
        readable by explicit version until GC ages them out of every
        ref's retention. ``tag`` resolves a named pin. The target must
        be an ancestor of the current head (cross-chain or forward
        moves are not a rollback — use fast_forward for those).

        The exactly-once ledger rolls back WITH the manifest: batches
        committed after the target become un-committed, so a source
        replay re-applies them and the table converges again — exactly
        the recover-by-replay contract the north rule requires.

        This COMMITS A NEW manifest whose data state (columns, buckets,
        ledger, watermarks) is the target's, rather than swinging the
        pointer to the old file: the commit's own lineage row records
        the rollback, so ``lineage()`` shows it and the changelog
        (``commits.appended_files``) refuses a change window across it
        — a window the restored state dropped row versions from. Tags
        are refs, so a rollback leaves them where they are."""
        v = version
        if tag is not None:
            if v is not None:
                raise ValueError("pass version or tag, not both")
            v = self.resolve_tag(tag)  # tags are single-assignment
        if v is None:
            raise ValueError("rollback needs a version or tag")
        v = int(v)

        def mutate(m: Manifest) -> bool | None:
            cur = m.parent
            if v == cur:
                return False
            if not self._is_ancestor(v, cur):
                raise ValueError(
                    f"cannot roll {ref!r} back to v{v}: not an ancestor of "
                    f"the current head v{cur}"
                )
            tgt = self.manifest(v)
            m.columns, m.n_buckets = tgt.columns, tgt.n_buckets
            m.buckets, m.file_stats = tgt.buckets, tgt.file_stats
            m.properties = tgt.properties

        self._commit(
            mutate, ref=ref, lineage={"op": "rollback", "restored_version": v}
        )
        return v

    def _commit(
        self,
        mutate,
        ref: str = "main",
        lineage: dict[str, Any] | None = None,
        ledger: tuple[str, int, dict[str, int]] | None = None,
        snapshot_id: str | None = None,
    ) -> str | None:
        """THE commit protocol — every commit after the create goes
        through here: under the commit lock, re-read ``ref``'s head
        FRESH, stamp it with the new version / parent / snapshot id,
        let ``mutate(m)`` edit it in place, then write the manifest and
        swing the head (``_write_manifest``). Concurrent committers
        (apply vs async compaction) therefore never clobber each
        other's versions. Returns the new snapshot id.

        A commit states only its mutation: ``_write_manifest`` derives
        the stored file delta from ``m`` and the head. ``m.buckets``
        arrives holding the head state's frozen tuples; ``mutate``
        REPLACES an entry to change a bucket (never edits one in place),
        and records the key ranges of the files it adds in
        ``m.file_stats``.

        - ``mutate`` returning False DECLINES (no-op DDL, a batch the
          ledger already holds): nothing is written, no version number
          is used, and None is returned.
        - ``lineage``: the commit's own row (``Manifest.summary``),
          stamped with the new and parent snapshot ids after ``mutate``
          ran (it may fill in what only the fresh head decides).
          ``_commit`` is the only row writer; a commit without one
          stores None.
        - ``ledger``: ``(app_id, batch_id, watermarks)`` of a data
          commit, folded into the exactly-once ledger.
        - ``snapshot_id``: the id to stamp, when the caller chose it
          before the commit (``_commit_batch``: names minted at plan
          time); a fresh one otherwise."""
        with commits.locked(self.root):
            m = self.manifest(ref=ref)
            parent_snapshot = m.snapshot_id
            m.parent, m.version = m.version, commits.next_version(self.root)
            m.snapshot_id = snapshot_id or uuid.uuid4().hex
            if mutate(m) is False:
                return None
            if ledger is not None:
                app_id, batch_id, watermarks = ledger
                wm = m.properties.setdefault("watermarks", {})
                for part, lsn in watermarks.items():
                    wm[str(part)] = max(int(lsn), int(wm.get(str(part), -1)))
                # max, not assignment: a cherry-pick racing a direct
                # apply must never regress a ledger the apply just
                # advanced (batch ids are per-app monotone by contract)
                cb = m.properties.setdefault("committed_batches", {})
                cb[app_id] = max(int(batch_id), int(cb.get(app_id, -1)))
            m.summary = None if lineage is None else {
                **lineage, "snapshot_id": m.snapshot_id,
                "parent_snapshot": parent_snapshot,
            }
            self._write_manifest(m, ref=ref)
            return m.snapshot_id

    # ------------------------------------------------------------ maintenance

    def buckets_over_threshold(self, max_deltas: int) -> list[int]:
        """Buckets whose accumulated DELTA-SNAPSHOT count exceeds
        ``max_deltas`` — compaction candidates (manifest metadata only,
        no data read).

        Snapshots, not raw files: one batch may write a bucket as 2-3
        files when range boundaries split it across write tasks, and
        that multiplicity scales with shuffle parallelism — a file-count
        threshold would compact k× more often at k× executors for the
        SAME logical backlog. Read amplification of merge-on-read grows
        with the number of delta GENERATIONS a key may span (one per
        batch), which is exactly the snapshot count. File names embed
        the snapshot id (``f-<snapshot>-...``), so this is a pure
        manifest computation."""
        m = self.manifest()
        out = []
        for b, fs in m.buckets.items():
            snaps = {os.path.basename(f).split("-")[1] for f in fs}
            if len(snaps) > max_deltas:
                out.append(int(b))
        return out

    def compact_buckets(
        self,
        buckets: list[int],
        purge_tombstones_below_lsn: int | None = None,
        shuffle_partitions: int | None = None,
    ) -> str | None:
        """Fold each bucket's delta files into one LWW-resolved file set
        (the MoR compaction). Tombstones are RETAINED unless the caller
        supplies a re-delivery horizon — a tombstone with
        ``_lsn < horizon`` can never lose to a future event, so it can
        be dropped. The engine cannot infer the horizon from apply
        watermarks (a re-delivered duplicate carries its ORIGINAL lsn);
        it comes from the source's retention guarantee. Commits one new
        snapshot; returns its id (None if nothing to do).

        Obsolete pre-compaction files stay on disk, unreferenced by the
        new manifest (Iceberg-style orphans; time-travel readers of old
        snapshots still see them until a GC pass)."""
        if not buckets:
            return None
        m = self.manifest()
        # base file set AS READ — commit_merged_buckets retains any file
        # appended to these buckets by a commit that lands while this
        # compaction is running (rewrite-vs-append conflict rule)
        base = {str(b): list(m.buckets.get(str(b), ())) for b in buckets}
        resolved = self._resolve(self._scan(m, buckets), m)
        if purge_tombstones_below_lsn is not None:
            resolved = resolved.filter(
                ~(
                    F.coalesce(F.col(S.DELETED_META_COL), F.lit(False))
                    & (F.col(S.LSN_META_COL) < F.lit(purge_tombstones_below_lsn))
                )
            )
        staged = self._stage_rewrite(
            resolved, m, m.n_buckets, len(buckets), shuffle_partitions
        )
        return self.commit_merged_buckets(
            staged_dir=staged,
            affected_buckets=buckets,
            lineage_row={
                "op": "compact",
                "buckets": len(buckets),
                "purge_below_lsn": purge_tombstones_below_lsn,
            },
            base_buckets=base,
        )

    def _stage_rewrite(
        self,
        resolved: DataFrame,
        m: Manifest,
        n_buckets: int,
        n_tasks: int,
        shuffle_partitions: int | None,
    ) -> str:
        """Write a resolved frame under ``m``'s stored column names into
        a fresh staging dir, one ``__bucket=N`` directory per bucket of
        an ``n_buckets`` layout, conv_id-sorted (compaction and
        rebucket). Returns the dir."""
        n = shuffle_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        staged = self.new_staging_dir()
        (
            self.to_physical(resolved, m)
            .withColumn("__bucket", bucket_expr(F.col("conv_id"), n_buckets))
            # range, not hash: few distinct bucket values hash-collide
            # into unbalanced tasks (see apply.py write path)
            .repartitionByRange(min(n, n_tasks), "__bucket", "conv_id")
            # a range can span buckets; see the apply write's sort
            .sortWithinPartitions("__bucket", "conv_id", "turn_idx")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(staged)
        )
        return staged

    def purge_tombstones(self, below_lsn: int, shuffle_partitions: int | None = None) -> str | None:
        """Compact ALL buckets, dropping tombstones below the supplied
        re-delivery horizon (see compact_buckets)."""
        m = self.manifest()
        buckets = [int(b) for b, fs in m.buckets.items() if fs]
        return self.compact_buckets(
            buckets, purge_tombstones_below_lsn=below_lsn, shuffle_partitions=shuffle_partitions
        )

    def rebucket(self, new_n_buckets: int, shuffle_partitions: int | None = None) -> str:
        """BUCKET-COUNT EVOLUTION (Iceberg partition-spec evolution for
        the bucket transform): rewrite the whole table under a new
        ``pmod(xxhash64(conv_id), new_n)`` layout in one resolved pass
        and commit it as a snapshot. The operational lever when key
        cardinality outgrows the layout — at 100 TB a table created
        with 32 buckets and now holding 10^9 conversations needs more
        write parallelism and finer read_key pruning, and bucket count
        is baked into every file's placement, so this is necessarily a
        full rewrite (ONE shuffle: resolve is bucket-local, then one
        range-exchange on the new bucket id).

        Semantics-invisible: the rewrite is the fold/LWW-resolved state
        (tombstones retained, like compaction without a purge horizon),
        the exactly-once ledger / watermarks / patched-column properties
        carry over untouched, and TIME TRAVEL still works — per-version
        manifests pin their own ``n_buckets``, so ``read_key(version=old)``
        prunes with the OLD transform against the OLD file set (files
        stay on disk until gc_orphans expires the version).

        Concurrency: single-maintenance-writer, conflict-ABORTED. A
        file appended concurrently under the old layout cannot be
        retained (its rows span many NEW buckets, so keeping it would
        poison read_key pruning) — if any commit lands between the read
        and this commit, the rewrite is abandoned (staged files
        orphaned for GC) and ValueError raised; the caller retries in a
        quiet window. That is the Iceberg RewriteDataFiles conflict
        rule, stricter here because the partition SPEC itself changes.
        Raises on no-op (same bucket count)."""
        if new_n_buckets < 1:
            raise ValueError(f"rebucket: need >= 1 bucket, got {new_n_buckets}")
        m0 = self.manifest()
        if new_n_buckets == m0.n_buckets:
            raise ValueError(f"rebucket: table already has {new_n_buckets} buckets")
        resolved = self._resolve(self._scan(m0), m0)
        staged = self._stage_rewrite(
            resolved, m0, new_n_buckets, new_n_buckets, shuffle_partitions
        )
        adopted, stats = self._adopt(staged, list(range(new_n_buckets)))

        def mutate(m: Manifest) -> None:
            if m.parent != m0.version:
                # adopted files become unreferenced -> gc_orphans fodder
                raise ValueError(
                    "rebucket: concurrent commit landed "
                    f"(v{m0.version} -> v{m.parent}); retry in a quiet window"
                )
            m.n_buckets = new_n_buckets
            m.buckets = {b: rels for b, rels in adopted.items() if rels}
            m.file_stats.update(stats)

        return self._commit(
            mutate,
            lineage={"op": "rebucket", "from_buckets": m0.n_buckets,
                     "to_buckets": new_n_buckets},
        )

    def startup_maintenance(
        self,
        keep_versions: int = 3,
        staging_grace_seconds: float = 3600.0,
        max_age_seconds: float | None = None,
    ) -> dict:
        """Resume-time housekeeping for a process that may have crashed
        anywhere — including the window between a background
        compaction's commit and the next apply (the shape pinned by
        test_crash_window_between_compaction_commit_and_next_apply):
        run GC inside the staging grace window (live-manifest files and
        fresh staging dirs are untouchable by construction), then
        report the table state the resumed stream starts from. The
        per-app exactly-once ledger makes re-delivered batches no-op,
        so callers just run this and restart the stream. A committer
        killed inside the commit lock does not block it: the kernel
        releases the lock with the dead process (``commits.locked``)."""
        deleted = self.gc_orphans(
            keep_versions=keep_versions,
            staging_grace_seconds=staging_grace_seconds,
            max_age_seconds=max_age_seconds,
        )
        m = self.manifest()
        return {
            "version": m.version,
            "snapshot_id": m.snapshot_id,
            "deleted_orphans": len(deleted),
            "committed_batches": {
                app: int(b) for app, b in m.properties.get("committed_batches", {}).items()
            },
            # dangling audit state a resuming operator must decide on:
            # branches awaiting publish/drop (retention-protected until
            # dropped)
            "branches": commits.read_refs(self.root),
        }

    def gc_orphans(
        self,
        keep_versions: int = 3,
        staging_grace_seconds: float = 3600.0,
        max_age_seconds: float | None = None,
    ) -> list[str]:
        """Delete data files referenced by NO manifest within the last
        ``keep_versions`` committed versions (and drop older manifests).
        Time travel stays available for the kept window; everything
        older becomes unreadable — the Iceberg expire-snapshots +
        remove-orphan-files maintenance pair. Returns deleted paths.

        Staging dirs are only reclaimed when their mtime is older than
        ``staging_grace_seconds``: a dir younger than the grace window
        may belong to an apply/compaction that is mid-write in another
        process, and deleting it would make the in-flight commit adopt
        an empty file list while exactly-once tracking still marks the
        batch committed — permanent silent loss. An hour-old staging
        dir can only be a crashed writer (a healthy batch commits in
        seconds). Pass 0 only when the caller KNOWS no writer is live.

        Retention is per-REF: main keeps its last ``keep_versions``
        ancestors (parent-link walk — version numbers are globally
        allocated across chains, so a chain is NOT a numeric range);
        each BRANCH keeps its head's chain all the way DOWN TO a
        version main's window retains (its fork point, in the common
        case) — pruning a mid-chain branch manifest would break the
        ancestor walk ``fast_forward`` relies on and brick the publish.
        Tagged versions stay until drop_tag. ``max_age_seconds`` adds
        time-based retention (the Iceberg
        ``expire_snapshots(olderThan, retainLast)`` pair):
        main's chain is ALSO kept while commits are younger than the
        cutoff — ``keep_versions`` is then the retain-last floor, the
        age bound the ceiling. The ENTIRE pass — keep-set planning AND
        deletion — runs under the commit lock, so a commit can never
        land between the plan and the delete and lose its just-written
        manifest (deletion is metadata-scale: a few listdir + unlink)."""
        cutoff = None if max_age_seconds is None else time.time() - max_age_seconds
        with commits.locked(self.root):
            refs = commits.read_refs(self.root)
            keep_set: set[int] = set()
            referenced: set[str] = set()
            # main's window first: branch walks stop when they reach
            # it. All keep-set walks read the raw manifest dict — ONE
            # small JSON per hop — never self.manifest(v), which folds
            # the delta chain into full O(live-files) state per call
            # (and would evict hot heads from the state cache) just to
            # follow a parent pointer.
            heads = [head_version(self.root), *refs.values()]
            for hops, (v, d) in enumerate(ancestry(self.root, heads[0])):
                if hops >= keep_versions and (
                    cutoff is None or d["properties"]["committed_at"] < cutoff
                ):
                    break
                keep_set.add(v)
            for hv in refs.values():
                for v, _ in ancestry(self.root, hv):
                    if v in keep_set:
                        break
                    keep_set.add(v)
            tag_versions = set(commits.read_refs(self.root, "tag").values())
            keep_set.update(tag_versions)
            # tagged versions keep not just their own manifest but the
            # PARENT-LINK PATH from each ref head down to them: rollback
            # (tag=...), history walks and _is_ancestor all need the
            # intermediate manifests, and "protected until drop_tag"
            # must mean reachable, not merely readable (same walk as
            # branch heads)
            if tag_versions:
                for hv in heads:
                    path = [v for v, _ in ancestry(self.root, hv)]
                    deepest = max(
                        (i for i, pv in enumerate(path) if pv in tag_versions),
                        default=-1,
                    )
                    keep_set.update(path[: deepest + 1])
            # delta-manifest boundary materialization: a kept DELTA
            # version whose reconstruction parent is about to be dropped
            # is rewritten IN PLACE as a FULL manifest — same logical
            # state (the cache stays valid), same version/snapshot_id,
            # same add/remove summary (CDF semantics preserved); only
            # the storage encoding changes. This keeps retention
            # granularity at single versions instead of forcing whole
            # delta chains to survive until their rollup ages out.
            # Parents are still on disk here (deletion happens below),
            # so reconstruction cannot dangle; the atomic writer keeps
            # the rewrite atomic for concurrent readers. The same pass
            # collects every kept version's live files.
            for kv in sorted(keep_set):
                try:
                    d = read_manifest(self.root, kv)
                except FileNotFoundError:
                    continue
                buckets, stats, _ = self._state(kv, d)
                referenced.update(f for fs in buckets.values() for f in fs)
                files = d["files"]
                # already full, or its chain stays intact through this GC
                if files.get("full") is None and d["parent"] not in keep_set:
                    files["full"] = {"buckets": buckets, "stats": stats}
                    commits.write_manifest(self.root, kv, d)
                    _cache_put((self.root, kv), (buckets, stats, 0))
            deleted: list[str] = []
            data_dir = os.path.join(self.root, "data")
            for fn in os.listdir(data_dir):
                rel = f"data/{fn}"
                if rel not in referenced:
                    os.remove(os.path.join(data_dir, fn))
                    deleted.append(rel)
            commits.drop_manifests(self.root, keep_set)
        # clear abandoned staging dirs (crashed writes) — but only past
        # the grace window, never an in-flight writer's dir (see docstring)
        staging = os.path.join(self.root, "_staging")
        if os.path.isdir(staging):
            cutoff = time.time() - staging_grace_seconds
            for d in os.listdir(staging):
                p = os.path.join(staging, d)
                try:
                    if os.path.getmtime(p) <= cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    continue
        return deleted

    # ------------------------------------------------------------ metrics

    def lineage(self) -> list[dict[str, Any]]:
        """The lineage rows of main's retained chain, oldest first: at
        most the LINEAGE_CAP most recent. Walks the head's ancestry
        newest-first, one small manifest read per hop; from a
        ``rollback`` row it continues at the restored version, so a
        rolled-back table reports the restored chain plus the rollback.
        Stops at the create commit or the first expired hop."""
        rows: list[dict[str, Any]] = []
        v = head_version(self.root)
        while v is not None and len(rows) < LINEAGE_CAP:
            try:
                d = read_manifest(self.root, v)
            except FileNotFoundError:
                break
            row = d.get("summary")
            if row:
                rows.append(row)
            rollback = row and row.get("op") == "rollback"
            v = row["restored_version"] if rollback else d["parent"]
        return rows[::-1]

    # ---------------------------------------------- metadata tables
    #
    # The Iceberg metadata-table analog (SELECT * FROM t.snapshots /
    # t.files / t.history): the table's own commit history, live file
    # inventory, and ref state as queryable DataFrames. Built
    # driver-side from the retained manifests — metadata is
    # metadata-scale (one row per commit / per file), exactly what
    # Iceberg's own metadata tables read, so no distributed scan is
    # needed or wanted.

    def _retained_versions(self) -> list[int]:
        return commits.retained_versions(self.root)

    def snapshots_df(self) -> DataFrame:
        """One row per retained committed version: commit kind from the
        stored file delta (``commit_kind`` — the classification the
        changelog rule ``appended_files`` and cherry_pick read), plus
        file counts."""
        schema = T.StructType([
            T.StructField("version", T.LongType()),
            T.StructField("snapshot_id", T.StringType()),
            T.StructField("parent", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("n_buckets", T.LongType()),
            T.StructField("n_files", T.LongType()),
            T.StructField("files_added", T.LongType()),
            T.StructField("files_removed", T.LongType()),
            T.StructField("is_current", T.BooleanType()),
        ])
        cur = self.manifest().version
        rows = []
        for v in self._retained_versions():
            d = read_manifest(self.root, v)
            op, added, removed = commit_kind(d["files"], d["parent"])
            buckets = self._state(v, d)[0]
            rows.append((v, d["snapshot_id"], d["parent"], op, d["n_buckets"],
                         sum(len(fs) for fs in buckets.values()),
                         len(added), len(removed), v == cur))
        return self.spark.createDataFrame(rows, schema)

    def files_df(self, version: int | None = None) -> DataFrame:
        """Live data-file inventory of a version (default current):
        bucket, path, on-disk size, and the per-file key range when
        commit-time footer stats were recorded (``Manifest.file_stats`` —
        the DataFile lower/upper-bounds analog; NULL for stat-less files,
        which readers always scan)."""
        schema = T.StructType([
            T.StructField("bucket", T.LongType()),
            T.StructField("path", T.StringType()),
            T.StructField("size_bytes", T.LongType()),
            T.StructField("key_min", T.StringType()),
            T.StructField("key_max", T.StringType()),
        ])
        m = self.manifest(version)
        stats = m.file_stats
        rows = []
        for b, fs in m.buckets.items():
            for rel in fs:
                try:
                    size = os.path.getsize(os.path.join(self.root, rel))
                except OSError:
                    size = -1
                st = stats.get(rel)
                ok = st is not None and len(st) == 2
                rows.append((int(b), rel, size,
                             st[0] if ok else None, st[1] if ok else None))
        return self.spark.createDataFrame(rows, schema)

    def history_df(self) -> DataFrame:
        """The current head's ancestry chain (Iceberg history), with the
        tags pinning each version."""
        schema = T.StructType([
            T.StructField("version", T.LongType()),
            T.StructField("snapshot_id", T.StringType()),
            T.StructField("is_current_ancestor", T.BooleanType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ])
        tags_by_v: dict[int, list[str]] = {}
        for name, v in self.tags().items():
            tags_by_v.setdefault(v, []).append(name)
        chain = {v for v, _ in ancestry(self.root, head_version(self.root))}
        rows = [
            (v, read_manifest(self.root, v)["snapshot_id"], v in chain,
             sorted(tags_by_v.get(v, [])))
            for v in self._retained_versions()
        ]
        return self.spark.createDataFrame(rows, schema)

    def refs_df(self) -> DataFrame:
        """The Iceberg ``refs`` metadata table: one row per named ref —
        "main", every branch (mutable pointers), every tag (immutable
        pins) — with the version and snapshot it resolves to."""
        schema = T.StructType([
            T.StructField("name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("version", T.LongType()),
            T.StructField("snapshot_id", T.StringType()),
        ])
        refs = [("main", "branch", head_version(self.root))]
        for kind in ("branch", "tag"):
            named = commits.read_refs(self.root, kind)
            refs += [(n, kind, named[n]) for n in sorted(named)]
        rows = [
            (n, kind, v, read_manifest(self.root, v)["snapshot_id"]) for n, kind, v in refs
        ]
        return self.spark.createDataFrame(rows, schema)
