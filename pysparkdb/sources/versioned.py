"""Manifest-based snapshot versioning: lightweight time travel for parquet.

A 100 TB training pipeline needs REPRODUCIBLE dataset snapshots — "train on
exactly the corpus that existed at version 7" — and cheap appends that never
rewrite history. Full table formats (Delta/Iceberg/Hudi, public designs)
solve this with a transaction log over immutable data files; this module
implements the minimal core of that idea with nothing but parquet + JSON:

- data files are IMMUTABLE: every append writes a fresh uniquely-named
  ``data/batch-<uuid>/`` directory and never touches earlier files;
- a version is a MANIFEST (``_manifests/v{N}.json``, N from 1): the
  explicit list of data files visible at that version (relative to the
  root), plus row and byte counts for audit and sizing;
- reading version N plans exactly ``manifest(N).files`` — so old versions
  stay readable forever and concurrent readers of different versions
  never conflict;
- compaction rewrites the CURRENT file set into fewer files as a new
  version; history before it is untouched (the file list, not the data,
  is the unit of change);
- each manifest records its version's SCHEMA (the Delta/Iceberg
  log-recorded-schema idea): appends may add new nullable columns, and
  every read declares the manifest schema explicitly, so old files serve
  NULL for later columns and a mixed-schema file list can never depend on
  which footer the reader happens to sample.

One protocol, two stores. Every ``snapshot_*`` call takes a ``root`` that
is either a local directory or an ``arrow_s3.S3Root(uri, conf)``. The
protocol (tags, version resolution, append, compact, rewrite, read, diff,
GC, the epoch sink) is written once here against a small store interface:
the manifest and tag calls ``list``, ``get``, ``put_if_absent``, ``put``
and ``delete``, and the data calls ``write_parquet`` and ``read_parquet``.
``_LocalStore`` below is the filesystem store; the S3 store lives in
arrow_s3.py beside the jar-less reader and writer.

Concurrent writers: a commit publishes manifest v{N+1}, where N is the
version its writer read, through the store's ``put_if_absent`` — locally a
temp file hard-linked into place, on S3 a conditional PUT checked by
reading the manifest back — so readers never observe a torn manifest and
two writers racing for one version cannot both succeed. The loser raises
ConcurrentAppendError; with ``retries=N`` an append instead re-commits
its already written batch on the new latest version (the batch directory
is version-agnostic: only the manifest binds it to a version). A batch
that is never committed stays unreferenced until snapshot_gc collects it.

This composes with the rest of the engine: the reference's catalog is
static JSON metadata over immutable S3 objects
(fpdb-catalogue/src/obj-store/ObjStoreCatalogueEntryReader.cpp) — a
manifest is the same idea made multi-version, and the store holding the
objects changes only how they are fetched.
"""

from __future__ import annotations

import errno
import json
import os
import re
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_REFS_DIR = "_refs"
# the parent of a root's first version
_EMPTY = {"files": [], "n_rows": 0, "bytes": 0, "schema": None}


class ConcurrentAppendError(RuntimeError):
    """Another writer committed the same snapshot version first (local
    or object-store root). The losing commit's data files are
    unreferenced (invisible to every reader; the GC pass expires them) —
    retry the whole append (or pass ``retries=``) to land the batch on
    the new latest version."""


def _manifest_key(version: int) -> str:
    return f"{_MANIFEST_DIR}/v{version}.json"


def _ref_key(name: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
        # the name doubles as a filename/object key; reject separators
        # and dotfiles before they reach the store
        raise ValueError(f"invalid tag name {name!r}")
    return f"{_REFS_DIR}/{name}.json"


def _is_sidecar(name: str) -> bool:
    # _SUCCESS, .crc, editor dotfiles: never manifest-listed
    return name.startswith(("_", "."))


def _publish(path: str, body: dict, replace: bool = False) -> None:
    """Write ``body`` as JSON at ``path`` atomically: to a temp name, then
    renamed (``replace=True``) or published CREATE-ONLY — FileExistsError
    when ``path`` exists. An exists-check followed by rename would
    silently overwrite on POSIX, so two racing creators would both
    "succeed" last-writer-wins — the race the S3 store closes with a
    conditional PUT. os.link refuses when the target exists. Filesystems
    WITHOUT hard-link support (some NFS/overlay/FAT mounts) raise
    OSError(EPERM/ENOTSUP) instead; there open(path, 'x') (O_CREAT|O_EXCL)
    gives the same create-only guarantee, at the cost of writing the
    payload twice and of a reader possibly seeing it half-written."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(body, f)
    if replace:
        os.rename(tmp, path)
        return
    try:
        os.link(tmp, path)
    except OSError as exc:  # FileExistsError (EEXIST) propagates
        if exc.errno not in (errno.EPERM, errno.ENOTSUP, getattr(
                errno, "EOPNOTSUPP", errno.ENOTSUP)):
            raise
        with open(path, "x") as f:
            json.dump(body, f)
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass


class _LocalStore:
    """A snapshot root on a local (or mounted) filesystem. Keys are
    root-relative paths."""

    def __init__(self, root: str):
        self.name = root

    def path(self, key: str) -> str:
        return os.path.join(self.name, key)

    def list(self, prefix: str, recursive: bool = False) -> dict[str, float]:
        """{key: mtime} of the files under ``prefix``, sidecars skipped."""
        out: dict[str, float] = {}
        for dirpath, _dirs, files in os.walk(self.path(prefix)):
            for name in files:
                if _is_sidecar(name):
                    continue
                full = os.path.join(dirpath, name)
                try:
                    out[os.path.relpath(full, self.name)] = \
                        os.path.getmtime(full)
                except FileNotFoundError:
                    pass  # removed while listing
            if not recursive:
                break
        return out

    def get(self, key: str) -> dict | None:
        try:
            with open(self.path(key)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def put_if_absent(self, key: str, body: dict) -> None:
        _publish(self.path(key), body)

    def put(self, key: str, body: dict) -> None:
        _publish(self.path(key), body, replace=True)

    def delete(self, key: str) -> None:
        """Remove ``key``; a data directory left without a data file goes
        too, with its sidecars (so GC leaves no empty batch directories)."""
        path = self.path(key)
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
        top = self.path(_DATA_DIR)
        d = os.path.dirname(path)
        while d.startswith(top + os.sep):
            try:
                names = os.listdir(d)
            except FileNotFoundError:
                break
            if any(not _is_sidecar(n) for n in names):
                break
            for n in names:
                try:
                    os.remove(os.path.join(d, n))
                except OSError:
                    pass  # a sidecar directory (_temporary): dir stays
            try:
                os.rmdir(d)
            except OSError:
                break
            d = os.path.dirname(d)

    def write_parquet(
        self, df: DataFrame, prefix: str, row_group_bytes: int | None = None
    ) -> tuple[list[str], int, int]:
        """Write ``df`` as the new directory ``prefix``: (file keys, rows,
        bytes). Rows come from the parquet footers (the catalog.zone_map
        pattern) — no Spark job per commit."""
        import pyarrow.parquet as pq

        w = df.write.mode("error")
        if row_group_bytes is not None:
            w = w.option("parquet.block.size", str(row_group_bytes))
        w.parquet(self.path(prefix))
        files = sorted(k for k in self.list(prefix) if k.endswith(".parquet"))
        paths = [self.path(k) for k in files]
        return (files, sum(pq.read_metadata(p).num_rows for p in paths),
                sum(os.path.getsize(p) for p in paths))

    def read_parquet(
        self, spark: SparkSession, files: list[str], schema
    ) -> DataFrame:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*[self.path(f) for f in files])


def _store(root):
    if isinstance(root, (str, os.PathLike)):
        return _LocalStore(os.fspath(root))
    from pysparkdb.sources.arrow_s3 import S3Root, _S3Store

    if isinstance(root, S3Root):
        return _S3Store(root)
    raise TypeError(
        f"a snapshot root is a local path or an S3Root, got {root!r}")


def _versions(store, listed: dict | None = None) -> list[int]:
    """Committed versions, ascending. Only ``v<digits>.json`` names count:
    editor artifacts and temp files must not brick the root."""
    if listed is None:
        listed = store.list(_MANIFEST_DIR)
    out = []
    for key in listed:
        m = re.fullmatch(r"v(\d+)\.json", key.rsplit("/", 1)[-1])
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _manifest(store, version: int) -> dict:
    m = store.get(_manifest_key(version))
    if m is None:
        # callers catch ValueError and see the available versions, not
        # an internal path
        versions = _versions(store)
        if not versions:
            raise ValueError(
                f"no snapshot versions committed under {store.name!r}")
        raise ValueError(
            f"version {version} not in {versions} under {store.name!r}")
    return m


def _head(store) -> tuple[list[int], dict]:
    """(committed versions, the latest manifest — _EMPTY for none)."""
    versions = _versions(store)
    if not versions:
        return [], dict(_EMPTY)
    return versions, _manifest(store, versions[-1])


def _tags(store) -> dict[str, int]:
    out: dict[str, int] = {}
    for key in store.list(_REFS_DIR):
        fname = key.rsplit("/", 1)[-1]
        if not fname.endswith(".json") or ".tmp-" in fname:
            continue
        body = store.get(key)
        if body is not None:  # untagged while listing
            out[fname[:-len(".json")]] = body["version"]
    return out


def _pinned(store, version: int | str | None) -> tuple[int, dict]:
    """(version, manifest) for a version, a tag name or None (latest).
    A known version costs one manifest read and no listing."""
    if isinstance(version, str):
        tags = _tags(store)
        if version not in tags:
            raise ValueError(
                f"tag {version!r} not found (have: {sorted(tags)})")
        version = tags[version]
    if version is None:
        versions = _versions(store)
        if not versions:
            raise ValueError(
                f"no snapshot versions committed under {store.name!r}")
        version = versions[-1]
    return version, _manifest(store, version)


def _schema(m: dict) -> dict | None:
    """A manifest's recorded schema; manifests written by earlier
    object-store code hold it as a JSON string."""
    s = m.get("schema")
    return json.loads(s) if isinstance(s, str) else s


def _struct(m: dict):
    s = _schema(m)
    return None if s is None else T.StructType.fromJson(s)


def _manifest_epoch(m: dict) -> int | None:
    """The newest micro-batch epoch a manifest answers for: its own
    ``epoch`` (a streaming commit) or the ``last_epoch`` that every other
    commit PROPAGATES from its parent. The propagation keeps the replay
    guard to one manifest read: without it a maintenance-only tail
    (compactions, erasure rewrites, manual appends) would make every
    micro-batch commit read backwards through all of it. Manifests
    predating the field fall through to the bounded walk."""
    e = m.get("epoch")
    return e if e is not None else m.get("last_epoch")


def _commit(
    store, versions: list[int], parent: dict, files: list[str],
    n_rows: int, nbytes: int | None, schema: dict | None, token: str,
    epoch: int | None = None, **flags,
) -> int:
    """Publish the manifest of the version after ``versions[-1]``;
    ConcurrentAppendError if another writer committed it first (its
    manifest is kept). ``token`` is unique per writer — the collision
    witness of stores that check a PUT by reading it back."""
    version = (versions[-1] if versions else 0) + 1
    body = {"version": version, "parent": versions[-1] if versions else None,
            "files": sorted(files), "n_rows": n_rows, "schema": schema,
            "commit_token": token, **flags}
    # total data bytes the version references: sizes a remote snapshot
    # view without a LIST. Unknown (omitted) when the parent predates the
    # field — a partial sum would understate the table
    if nbytes is not None:
        body["bytes"] = nbytes
    if epoch is not None:
        body["epoch"] = epoch  # the streaming replay guard's provenance
    elif _manifest_epoch(parent) is not None:
        body["last_epoch"] = _manifest_epoch(parent)
    try:
        store.put_if_absent(_manifest_key(version), body)
    except FileExistsError as exc:
        raise ConcurrentAppendError(
            f"version {version} under {store.name!r} was committed "
            f"concurrently by another writer ({exc}); this commit's files "
            f"are unreferenced — retry to land them on the new latest "
            f"version") from None
    return version


def _stage(store, df: DataFrame, kind: str, row_group_bytes=None):
    """Write ``df`` as a new immutable ``data/{kind}-<uuid>/`` directory:
    (files, rows, bytes, commit token). The uuid makes a failed write
    recoverable — a crash before the manifest publish leaves a directory
    no manifest references (snapshot_gc collects it after the grace
    window), and the retry writes a fresh one."""
    token = f"{kind}-{uuid.uuid4().hex}"
    files, n_rows, nbytes = store.write_parquet(
        df, f"{_DATA_DIR}/{token}", row_group_bytes)
    return files, n_rows, nbytes, token


def _frame(spark: SparkSession, store, version: int, m: dict) -> DataFrame:
    """The rows of manifest ``m`` under its recorded schema. A version
    listing NO files (an all-rows-erased ``snapshot_rewrite``, the erasure
    terminal state) is the EMPTY frame under that schema: an unreadable
    latest version would strand the store until the next append."""
    schema = _struct(m)
    if m["files"]:
        # legacy pre-schema manifests (schema None) keep the inferred read
        return store.read_parquet(spark, m["files"], schema)
    if schema is None:
        raise ValueError(
            f"version {version} is empty and predates schema recording — "
            f"nothing to reconstruct a frame from")
    return empty_frame(spark, schema)


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """Zero-row frame under ``schema``, built JVM-side (range(0) +
    NULL-literal casts — handles nested types: CAST(NULL AS struct<...>)
    is valid for any Spark type). ``spark.createDataFrame([], schema)``
    would route even an EMPTY local list through the Python-worker RDD
    path, putting a PythonWorkerFactory dependency (and its documented
    pool-restart artifact) inside otherwise JVM-pure attach/read plans —
    the round-14/15 certificate-query excision, applied to the erased-
    snapshot reconstruction path."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _schema_dict(df_schema) -> dict:
    """A DataFrame schema as a manifest-storable dict, every field
    normalized to nullable — parquet treats all columns as optional, and a
    version's schema must admit later appends that omit a column (their
    rows read as NULL)."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in df_schema.fields]
    ).jsonValue()


def _merge_schema(parent: dict | None, df_schema) -> dict:
    """Evolve the parent manifest schema with an appended frame's schema:
    brand-new columns are ADDED (nullable — earlier files serve NULL for
    them), existing columns must keep their exact type (no silent
    widening/narrowing: a type change is a rewrite, not an append — the
    same strictness Delta applies without an explicit type-change
    migration), and parent columns the frame omits REMAIN (the new rows
    read as NULL there). Column order: parent columns first, new columns
    appended in frame order."""
    incoming = _schema_dict(df_schema)
    if parent is None:
        return incoming
    by_name = {f["name"]: f for f in parent["fields"]}
    merged = list(parent["fields"])
    for f in incoming["fields"]:
        have = by_name.get(f["name"])
        if have is None:
            merged.append(f)
        elif have["type"] != f["type"]:
            raise ValueError(
                f"schema evolution: column {f['name']!r} is "
                f"{json.dumps(have['type'])} in the snapshot history but the "
                f"appended frame has {json.dumps(f['type'])}; type changes "
                "need snapshot_rewrite (full replacement), appends may only "
                "add new nullable columns"
            )
    out = dict(parent)
    out["fields"] = merged
    T.StructType.fromJson(out)  # validate before it reaches a manifest
    return out


def snapshot_versions(root) -> list[int]:
    """Committed versions, ascending (from 1; object-store roots written
    by earlier code may also hold a v0)."""
    return _versions(_store(root))


def snapshot_tag(
    root, name: str, version: int | None = None, replace: bool = False
) -> int:
    """Pin ``version`` (default: latest) under a NAMED TAG — the
    Iceberg-tag analog for the reproducible-training workflow: a training
    run tags the corpus it read (``snapshot_tag(root, "train-v1")``) and
    every later reader resolves the name (``snapshot_read(spark, root,
    "train-v1")``, ``Engine.attach_snapshot(..., version="train-v1")``)
    instead of copying an integer between systems. A tagged version is
    RETENTION-PINNED: snapshot_gc's horizons never expire it until the
    tag is deleted (``snapshot_untag``) — the property that makes a tag
    a contract rather than a comment. Overwriting an existing tag
    refuses without ``replace=True`` (silently moving a name every
    consumer resolves is the shadowing bug class again), and two writers
    racing to create one tag cannot both win: the tag is published
    create-only, like a manifest. Returns the pinned version."""
    store = _store(root)
    key = _ref_key(name)
    versions = _versions(store)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {store.name!r}")
    version = versions[-1] if version is None else version
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    if replace:
        store.put(key, {"version": version})
        return version
    try:
        store.put_if_absent(key, {"version": version})
    except FileExistsError:
        have = store.get(key) or {"version": "?"}
        raise ValueError(
            f"tag {name!r} already exists (-> v{have['version']}); "
            f"pass replace=True to move it deliberately") from None
    return version


def snapshot_tags(root) -> dict[str, int]:
    """All tags under the root as {name: version}."""
    return _tags(_store(root))


def snapshot_untag(root, name: str) -> None:
    """Delete a tag — releasing its retention pin (the version becomes
    expirable by the next snapshot_gc horizon like any other). Raises on
    a tag that does not exist: a typo'd untag must not silently
    'succeed' while the real pin keeps bytes alive."""
    store = _store(root)
    key = _ref_key(name)
    if store.get(key) is None:
        raise ValueError(
            f"tag {name!r} not found (have: {sorted(_tags(store))})")
    store.delete(key)


def snapshot_schema(root, version: int | str | None = None):
    """The recorded StructType of ``version`` (default: latest; a string
    is a tag name) — one manifest read, no data or footer is touched — or
    None for a pre-schema-evolution manifest (legacy roots keep their
    original sampled-footer read path)."""
    return _struct(_pinned(_store(root), version)[1])


def snapshot_append(
    df: DataFrame, root, epoch: int | None = None, retries: int = 0
) -> int:
    """Append df as a new immutable batch; commit and return the new
    version. The manifest is the parent's file list plus the batch's
    files. Schema evolution: the committed schema is the parent's merged
    with df's — new columns append (earlier files read NULL for them),
    omitted parent columns stay (df's rows read NULL there), type changes
    raise BEFORE any data is staged (a failed merge must not leave an
    orphan batch directory).

    The commit is at the version after the manifest read here: if another
    writer commits that version meanwhile, the append raises
    ConcurrentAppendError rather than publish a file list that drops the
    other's files. With ``retries=N`` the loser lands anyway: it re-reads
    the new latest manifest and re-commits the SAME files under the next
    version (nothing is rewritten, and a scheduler-driven ingest needs no
    caller loop); after N consecutive losses the error propagates and
    the batch is left to GC. ``epoch`` records the streaming micro-batch
    that produced the version (see commit_epoch)."""
    return _append(_store(root), df, epoch, retries)


def _append(store, df: DataFrame, epoch, retries: int, head=None) -> int:
    """snapshot_append's body; ``head`` is a (versions, latest manifest)
    pair the caller just read (commit_epoch's), used by the first attempt
    only — a retry follows a lost race, so its head is stale by
    definition."""
    staged = None
    attempt = 0
    while True:
        versions, prev = head if head is not None else _head(store)
        head = None
        schema = _merge_schema(_schema(prev), df.schema)
        if staged is None:
            staged = _stage(store, df, "batch")
        files, n_rows, nbytes, token = staged
        try:
            return _commit(
                store, versions, prev, prev["files"] + files,
                prev["n_rows"] + n_rows,
                None if prev.get("bytes") is None else prev["bytes"] + nbytes,
                schema, token, epoch)
        except ConcurrentAppendError:
            attempt += 1
            if attempt > retries:
                raise


def snapshot_read(
    spark: SparkSession, root, version: int | str | None = None
) -> DataFrame:
    """Read the dataset as of `version` (default: latest; a STRING is a
    tag name, resolved through snapshot_tags). Plans exactly the
    manifest's files under its recorded schema — no directory listing, no
    eventual-consistency window, identical bytes on every replay. A
    version whose manifest lists NO files reads back as the EMPTY frame
    under its recorded schema."""
    store = _store(root)
    version, m = _pinned(store, version)
    return _frame(spark, store, version, m)


def snapshot_gc(
    root, retain_versions: int | None = None,
    orphan_grace_s: float = 600.0, older_than_s: float | None = None,
    dry_run: bool = False, _pre_delete_hook=None,
) -> dict[str, list[str]]:
    """Garbage-collect the snapshot root — the VACUUM analog. Two classes
    of dead files, both identified purely from manifests (no data reads):

    - **orphans**: ``data/`` files no manifest references (crashed or
      race-losing writes), deleted only once OLDER than
      ``orphan_grace_s`` by the store's mtime: an in-flight append stages
      its data files BEFORE committing the manifest, so an
      unreferenced-but-young file may be a write in progress — deleting
      it would corrupt the version about to commit. The grace window is
      the same writer-race guard as Delta/Iceberg VACUUM retention
      (public designs); set it above your longest plausible commit.
      Temp manifests of crashed local commits go with the same grace.
    - **expired**: with ``retain_versions=k``, manifests older than the
      newest k are dropped and any file referenced ONLY by dropped
      versions is deleted. ``older_than_s=t`` adds the AGE horizon
      (Delta's ``VACUUM RETAIN n HOURS`` shape): versions whose manifest
      mtime is older than ``t`` seconds drop too — with both given, a
      version drops if EITHER rule drops it. The newest version, every
      TAGGED version and the newest manifest carrying an epoch signal
      (the streaming replay guard, see _manifest_epoch) always survive.
      This is what completes the right-to-erasure story: a
      ``snapshot_rewrite`` erases rows from the new version onward, and
      expiry removes the bytes earlier versions still reference. Readers
      of retained versions are untouched; time travel beyond the horizon
      is explicitly given up.

    Returns {"orphans": [...], "expired": [...]} of deleted keys
    (root-relative). ``dry_run=True`` computes and returns the same
    report while deleting NOTHING (Delta's ``VACUUM ... DRY RUN``).
    Manifests are removed before their now-unreferenced files, so a
    crash mid-GC can strand re-collectable bytes but never a manifest
    whose files are gone. An in-flight append references only its
    parent's files (the newest version, always retained) plus its own
    batch (orphan-class, grace-protected). Manifest reads run on a
    32-thread pool: a streaming root commits one manifest per micro-batch,
    and on an object store each read is a network round trip."""
    if retain_versions is not None and retain_versions < 1:
        # versions[-0:] would silently keep EVERYTHING — the opposite of
        # the requested horizon; at least the newest version must survive
        raise ValueError(f"retain_versions must be >= 1, got {retain_versions}")
    store = _store(root)
    listed = store.list(_MANIFEST_DIR)
    versions = _versions(store, listed)
    manifests: dict[int, dict] = {}
    if versions:
        with ThreadPoolExecutor(max_workers=min(32, len(versions))) as pool:
            manifests = dict(zip(versions, pool.map(
                lambda v: _manifest(store, v), versions)))
    now = time.time()
    keep = set(versions if retain_versions is None
               else versions[-retain_versions:])
    if older_than_s is not None:
        # the newest version never age-drops: an idle root must stay
        # readable however old it gets
        keep -= {v for v in versions[:-1]
                 if now - listed[_manifest_key(v)] > older_than_s}
    for v in reversed(versions):
        if _manifest_epoch(manifests[v]) is not None:
            keep.add(v)
            break
    if not dry_run and _pre_delete_hook is not None:
        _pre_delete_hook()
    # TAGGED versions are retention-pinned. Tags are read at the last
    # instant before the deletes (the tag-vs-GC race): a snapshot_tag
    # landing before this read is honoured, so the race shrinks to the
    # read-to-delete instant; a tagger needing a HARD guarantee against a
    # concurrent sweep should check its version still exists after
    # tagging. ``_pre_delete_hook`` is test injection for that window.
    keep |= set(_tags(store).values()) & set(versions)
    drop = [v for v in versions if v not in keep]
    referenced = set().union(*(manifests[v]["files"] for v in keep))
    expired = sorted(
        set().union(*(manifests[v]["files"] for v in drop)) - referenced)
    if not dry_run:
        for v in drop:
            store.delete(_manifest_key(v))
        for key in expired:
            store.delete(key)
    listed_by_manifests = referenced | set(expired)
    orphans = [key for key, mtime in store.list(_DATA_DIR, recursive=True).items()
               if key not in listed_by_manifests and now - mtime >= orphan_grace_s]
    orphans += [key for key, mtime in listed.items()
                if ".json.tmp-" in key and now - mtime >= orphan_grace_s]
    if not dry_run:
        for key in orphans:
            store.delete(key)
    return {"orphans": sorted(orphans), "expired": expired}


def snapshot_diff(
    spark: SparkSession,
    root,
    from_version: int | str,
    to_version: int | str,
    key_cols: list[str],
    detect_updates: bool = False,
) -> DataFrame:
    """Change-data feed between two committed versions (strings are tag
    names — ``snapshot_diff(spark, root, "train-v1", "train-v2", keys)``
    ships the delta between two tagged corpora): every key present
    in exactly one of the two snapshots, tagged ``_change ∈ {'insert',
    'delete'}`` (a key in `to` but not `from` is an insert; the reverse a
    delete), carrying the payload row from the version that HAS it. The
    reader-side CDC surface of the snapshot log — what an incremental
    downstream (index refresh, dedup-history update, training-set delta
    shipping) consumes instead of re-reading the full corpus.

    By default only MEMBERSHIP changes are surfaced: a key present in both
    versions with a CHANGED payload (a rewrite that rescores or scrubs
    rows under a stable key) appears in neither insert nor delete. Pass
    ``detect_updates=True`` to also emit those rows, tagged ``'update'``
    and carrying the `to`-version payload — the comparison is full-row
    (null-safe struct equality over the non-key columns) and rides the
    same key-shuffle join, so it adds no extra exchange. This stays sound
    under the file-level short-circuit below: snapshot files are
    immutable, so an in-place payload change can only come from a
    rewritten file, which by construction sits in both versions' private
    file sets and is therefore scanned. (Callers that prefer the
    alternative contract can instead pass the full column list as
    `key_cols`, turning payload changes into delete+insert pairs.)

    Shape: file-level short-circuit first — manifests are explicit file
    lists, so files common to both versions (append-only history, the
    usual case) contribute NOTHING to the diff and are never scanned (on
    an object store: never fetched); the full-outer key join runs only
    over each side's private files, each read under ITS version's
    recorded schema. After a compaction (which rewrites the file list)
    the private sets degrade to the full snapshots and the join does the
    work; keys are assumed unique per snapshot (the ingest path dedups —
    callers with duplicate keys should diff on the full key). One shuffle
    by key either way."""
    store = _store(root)
    _va, ma = _pinned(store, from_version)
    vb, mb = _pinned(store, to_version)
    fa, fb = set(ma["files"]), set(mb["files"])

    def side(files: set[str], m: dict) -> DataFrame | None:
        if not files:
            return None
        return store.read_parquet(spark, sorted(files), _struct(m))

    return _diff_tagged(
        side(fa - fb, ma), side(fb - fa, mb), key_cols, detect_updates,
        lambda: _frame(spark, store, vb, mb))


def _diff_tagged(
    a: DataFrame | None,
    b: DataFrame | None,
    key_cols: list[str],
    detect_updates: bool,
    empty_base,
) -> DataFrame:
    """The storage-free core of snapshot_diff: tag each side's private
    rows insert/delete (plus full-row null-safe updates on request) with
    one key-shuffle join. ``empty_base`` lazily supplies a schema-bearing
    frame for the identical-file-lists case (no data is read from it)."""
    if a is None and b is None:  # identical file lists → empty diff
        return empty_base().limit(0).withColumn("_change", F.lit(""))
    if a is None:
        return b.withColumn("_change", F.lit("insert"))
    if b is None:
        return a.withColumn("_change", F.lit("delete"))
    b_tag = b.join(a.select(*key_cols), key_cols, "left_anti").withColumn(
        "_change", F.lit("insert")
    )
    a_tag = a.join(b.select(*key_cols), key_cols, "left_anti").withColumn(
        "_change", F.lit("delete")
    )
    # allowMissingColumns: across a schema evolution the two sides differ —
    # delete rows gain NULL for columns the from version predates (and
    # vice versa after a column-dropping rewrite)
    out = b_tag.unionByName(a_tag, allowMissingColumns=True)
    if detect_updates:
        # payload = the UNION of both sides' non-key columns; a column one
        # side lacks compares as NULL of the other side's type, so adding
        # a column with a non-null value (or dropping one that had any)
        # correctly surfaces as an update
        a_types = {f.name: f.dataType for f in a.schema.fields}
        b_types = {f.name: f.dataType for f in b.schema.fields}
        payload = [c for c in b.columns if c not in key_cols]
        payload += [c for c in a.columns if c not in key_cols and c not in payload]
        if payload:

            def side(types, c, alias):
                if c in types:
                    return F.col(c).alias(alias)
                other = a_types.get(c) or b_types[c]
                return F.lit(None).cast(other).alias(alias)

            a_payload = a.select(
                *key_cols, *[side(a_types, c, f"_a_{c}") for c in payload]
            )
            upd = (
                b.join(a_payload, key_cols, "inner")
                .filter(
                    ~F.struct(
                        *[side(b_types, c, c) for c in payload]
                    ).eqNullSafe(F.struct(*[F.col(f"_a_{c}") for c in payload]))
                )
                .select(*b.columns)
                .withColumn("_change", F.lit("update"))
            )
            out = out.unionByName(upd, allowMissingColumns=True)
    return out


def snapshot_compact(
    spark: SparkSession,
    root,
    target_files: int = 1,
    zorder_cols: list[str] | None = None,
    row_group_bytes: int | None = None,
) -> int:
    """Rewrite the CURRENT version's file set into `target_files` files as
    a new version. Earlier versions keep reading their original files —
    compaction changes the file list, never history. The rewrite is one
    coalesce-write of the current snapshot (same economics as
    layout.compact_parquet: pay once, every later scan opens fewer
    files; on an object store the object count IS the scan-task
    granularity, so many small micro-batch objects turn read parallelism
    into per-key overhead). A writer that commits the next version first
    wins: losing a compaction is cheap, losing an append loses data.

    `zorder_cols` makes this the OPTIMIZE-ZORDER maintenance pass of the
    lakehouse formats: the rewrite clusters rows along the Morton curve of
    those columns (layout.zorder_df), so every subsequent range predicate
    on ANY of them skips most row groups off footer stats — streaming
    ingest appends unclustered micro-batches cheaply, and the periodic
    compaction restores scan-pruning locality as a new version while every
    pinned training snapshot keeps its original files.
    ``row_group_bytes`` sets the parquet row-group size (local store)."""
    store = _store(root)
    versions, prev = _head(store)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {store.name!r}")
    cur = _frame(spark, store, versions[-1], prev)
    if zorder_cols:
        from pysparkdb.sources.layout import zorder_df

        # range-partition straight to the target file count: a coalesce
        # AFTER the range exchange could merge non-adjacent z-bands into
        # one file and widen its row-group zone maps back out
        out = zorder_df(cur, zorder_cols, n_partitions=target_files)
    else:
        out = cur.coalesce(target_files)
    files, n_rows, nbytes, token = _stage(store, out, "compact", row_group_bytes)
    # same rows, same schema: compaction carries the parent schema forward
    # (cur was READ with it, so the rewrite's footers already conform)
    return _commit(store, versions, prev, files, n_rows, nbytes,
                   _schema(prev), token, compaction=True)


def snapshot_rewrite(spark: SparkSession, root, df: DataFrame) -> int:
    """Commit ``df`` as a FULL-REPLACEMENT version — the delete path of
    the versioned store (retention sweeps, right-to-erasure, quality
    re-gating): unlike snapshot_append (adds files) and snapshot_compact
    (same rows, fewer files), the new manifest lists ONLY the rewritten
    files, so rows absent from ``df`` are gone from this version onward.
    History is untouched — earlier versions still read their original
    files until snapshot_gc's retention horizon reclaims them (that pair
    is the complete erasure story: rewrite removes from the live version,
    GC removes the bytes). Readers see the change atomically at the
    manifest publish; snapshot_diff against the parent yields the
    insert/delete feed downstream increments consume. A lost race raises
    with no retry: the rewrite never saw the winner's rows, and replaying
    it would silently erase them."""
    store = _store(root)
    versions, prev = _head(store)
    files, n_rows, nbytes, token = _stage(store, df, "rewrite")
    # full replacement owns its schema outright: a rewrite may drop or
    # retype columns (it lists no historical files, so there is nothing
    # the declared schema must stay compatible with)
    return _commit(store, versions, prev, files, n_rows, nbytes,
                   _schema_dict(df.schema), token, rewrite=True)


def _epoch_head(store) -> tuple[list[int], dict, int | None]:
    """(versions, latest manifest, newest committed epoch). The newest
    manifest answers on any root written with epoch propagation; older
    roots fall back to the reverse walk, valid because Spark epoch ids
    are monotonic per checkpoint."""
    versions = _versions(store)
    latest = None
    for v in reversed(versions):
        m = _manifest(store, v)
        latest = latest or m
        if _manifest_epoch(m) is not None:
            return versions, latest, _manifest_epoch(m)
    return versions, latest or dict(_EMPTY), None


def last_committed_epoch(root) -> int | None:
    """Newest micro-batch epoch recorded by the root's manifests (one
    listing + one manifest read on a root written by this code)."""
    return _epoch_head(_store(root))[2]


def commit_epoch(
    batch_df: DataFrame, root, epoch_id: int, retries: int = 2
) -> int | None:
    """Idempotent micro-batch commit (the snapshot_stream_sink body,
    module-level so the replay guard is directly testable): append the
    batch as a new version unless this epoch already committed one —
    returns the new version, or None for a skipped replay. Monotonic
    epoch ids make ``<= last_committed_epoch`` the replay test. The
    append runs with ``retries`` because a maintenance compaction racing
    the stream is expected operation — the batch is epoch-new by the
    guard, so relanding it under the next version is safe (a WON commit
    records the epoch, making every later replay skip). The guard's
    listing and newest-manifest read are reused by the append's first
    attempt, so a committed micro-batch costs one of each."""
    store = _store(root)
    versions, latest, last = _epoch_head(store)
    if last is not None and epoch_id <= last:
        return None  # replay of an already-committed batch: exactly-once
    return _append(store, batch_df, epoch_id, retries, head=(versions, latest))


def snapshot_stream_sink(stream_df: DataFrame, root, checkpoint_dir: str):
    """Structured-Streaming sink: every micro-batch commits as a snapshot
    version — the transaction-log streaming sink pattern (each version is
    an atomic, replayable batch boundary; downstream training jobs pin a
    version and get a frozen corpus while ingest continues).

    Exactly-once WITHOUT a transactional store: foreachBatch is
    at-least-once (a crash after the data write but before the engine
    records the batch replays the SAME epoch_id), so the commit is made
    IDEMPOTENT on epoch_id (see commit_epoch). Epoch ids are monotonic
    per checkpoint, so a restart resumes appending where it stopped. One
    checkpoint per snapshot root: epoch ids are scoped to a checkpoint,
    so pointing a FRESH checkpoint at an old root would collide with its
    recorded epochs — pair them for the root's lifetime. Returns the
    DataStreamWriter; callers .start() it (trigger(availableNow=True) for
    drain-and-stop ingest).
    """
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch_df, epoch_id: commit_epoch(batch_df, root, epoch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
