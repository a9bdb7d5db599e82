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
- else ``spark-graft-scratch`` under the system default tempdir.

Directories are created under a per-PID subtree removed at interpreter
exit — on every medium, the tempdir fallback too — so concurrent
sessions never collide and nothing outlives the process: scratch holds
no results, every bench/oracle run recomputes from the parquet inputs.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_proc_roots: dict[str, str] = {}  # base -> this process's subtree

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


def _proc_root(base: str) -> str:
    """``base``'s per-PID subtree, created lazily and removed at
    interpreter exit."""
    if base not in _proc_roots:
        root = _proc_roots[base] = os.path.join(base, f"pid-{os.getpid()}")
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return _proc_roots[base]


def scratch_root() -> str | None:
    """This process's scratch root on the fast medium, or None when
    that is the system tempdir (``spark.local.dir`` then keeps Spark's
    default). Removed at interpreter exit."""
    base = _base_root()
    return None if base is None else _proc_root(base)


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` on the fastest writable medium, removed at
    interpreter exit."""
    base = _base_root() or os.path.join(tempfile.gettempdir(), "spark-graft-scratch")
    return tempfile.mkdtemp(prefix=prefix, dir=_proc_root(base))
