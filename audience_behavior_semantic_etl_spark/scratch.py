"""Process-scoped scratch directories for engine intermediates.

Every CDC/streaming surface stages ephemeral state on local disk:
spooled micro-batches, WAL chunks, streaming checkpoints and file
sinks, scratch SnapshotTables built by contract queries. On this
sandbox all of that lands on ONE ext4 disk whose dirty-page writeback
throttles concurrent writers (BENCH/BASELINE.md), and the CDC commit
path fsyncs its manifest per commit — so scratch placement is a
first-order term in every CDC/streaming query's fixed overhead
(optimization guide §6: I/O and file layout).

``scratch_dir(prefix)`` is a drop-in ``tempfile.mkdtemp`` that puts
scratch on the fastest writable medium:

- ``$SPARK_GRAFT_SCRATCH`` when set (a cluster deployment points this
  at instance-local NVMe — the same decision as ``spark.local.dir``;
  set it to the empty string to force the system tempdir);
- else ``/dev/shm`` (tmpfs) when present, writable and holding at
  least ``SHM_FLOOR_BYTES`` free — fsync is free and writeback never
  throttles;
- else the system default tempdir (exactly the old behavior).

Directories are created under a per-PID subtree removed at interpreter
exit, so concurrent sessions never collide and nothing outlives the
process — scratch holds no results, every bench/oracle run recomputes
from the parquet inputs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_proc_root: str | None = None

# tmpfs pages are host RAM: scratch there competes with the JVM heaps
# and Python workers for memory, and a full tmpfs fails writes instead
# of spilling. Below 2 GiB free (a small container's /dev/shm is 64 MiB)
# the system tempdir is the safe default.
SHM_FLOOR_BYTES = 2 << 30


def _base_root() -> str | None:
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root is not None:
        return root or None  # empty string -> system tempdir
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= SHM_FLOOR_BYTES:
            return "/dev/shm/spark-graft-scratch"
    return None


def scratch_root() -> str | None:
    """This process's scratch root (created lazily), or None when the
    system tempdir should be used. Removed at interpreter exit."""
    global _proc_root
    if _proc_root is None:
        base = _base_root()
        if base is None:
            return None
        _proc_root = os.path.join(base, f"pid-{os.getpid()}")
        os.makedirs(_proc_root, exist_ok=True)
        atexit.register(shutil.rmtree, _proc_root, ignore_errors=True)
    return _proc_root


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` on the fastest writable medium."""
    root = scratch_root()
    if root is not None:
        return tempfile.mkdtemp(prefix=prefix, dir=root)
    return tempfile.mkdtemp(prefix=prefix)
