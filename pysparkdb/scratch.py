"""Ephemeral scratch-directory placement for in-run temporaries.

Two kinds of directory live only inside one query run and are deleted
before (or shortly after) it returns, and they are placed differently
because they differ in size:

- Structured Streaming checkpoint dirs for drain-and-stop
  (Trigger.AvailableNow) replays — ``scratch_root()``. Their I/O is pure
  overhead (offsets/WAL/commit-log/state-snapshot files written, fsynced
  and immediately discarded), and on a disk-backed /tmp it is the
  dominant cost of every short stream run (guide §5/§6: the
  Structured-Streaming per-run floor). Their contents are offset/commit
  logs (KBs) plus state snapshots bounded by the stream's state — orders
  of magnitude below the corpus being processed — so a RAM-backed tmpfs
  is the right default.
- Snapshot-pipeline workdirs (pipeline_snapshot_curation,
  pipeline_incremental_refresh, pipeline_schema_evolution) —
  ``workdir_root()``. They hold a landing copy plus several corpus
  snapshot versions and compactions: corpus-sized data, which on a host
  where the corpus approaches RAM would fill tmpfs (ENOSPC mid-run) or
  compete with executor memory. They stay on the platform tempdir.

``$PYSPARKDB_SCRATCH``, when set, is the deployment knob for both: point
it at fast local NVMe (or durable storage if you want post-mortem access
to a failed run's scratch). Otherwise:

- ``scratch_root()`` picks /dev/shm when it is writable — these
  checkpoints exist to satisfy the streaming engine's WAL protocol during
  a single drain, not to survive a crash (a crashed run is simply re-run
  from the parquet inputs), so durability buys nothing and the fsync tax
  is pure waste — and ``None`` (the platform default tempdir) otherwise;
- ``workdir_root()`` returns ``None``: the platform default tempdir.

DURABLE streaming checkpoints — a production writeStream to a real sink
that must resume across restarts — must NOT come from here; callers own
those paths explicitly (see sources/versioned.snapshot_stream_sink's
checkpoint_dir parameter).
"""

from __future__ import annotations

import os


def workdir_root() -> str | None:
    """Directory under which corpus-sized ephemeral workdirs are created,
    or None for the platform default tempdir. See module docstring."""
    return os.environ.get("PYSPARKDB_SCRATCH") or None


def scratch_root() -> str | None:
    """Directory under which ephemeral stream-checkpoint dirs are
    created, or None for the platform default tempdir. See module
    docstring for policy."""
    env = workdir_root()
    if env:
        return env
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return shm
    return None
