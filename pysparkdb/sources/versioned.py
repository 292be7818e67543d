"""Manifest-based snapshot versioning: lightweight time travel for parquet.

A 100 TB training pipeline needs REPRODUCIBLE dataset snapshots — "train on
exactly the corpus that existed at version 7" — and cheap appends that never
rewrite history. Full table formats (Delta/Iceberg/Hudi, public designs)
solve this with a transaction log over immutable data files; this module
implements the minimal core of that idea with nothing but parquet + JSON:

- data files are IMMUTABLE: every append writes a fresh uniquely-named
  ``data/batch-N-<uuid>/`` directory and never touches earlier files;
- a version is a MANIFEST (``_manifests/v{N}.json``): the explicit list of
  data files visible at that version, plus row counts for audit;
- reading version N is ``spark.read.parquet(*manifest(N).files)`` — Spark
  plans exactly those splits, so old versions stay readable forever and
  concurrent readers of different versions never conflict;
- compaction rewrites the CURRENT file set into fewer files as a new
  version; history before it is untouched (the file list, not the data,
  is the unit of change);
- each manifest records its version's SCHEMA (the Delta/Iceberg
  log-recorded-schema idea): appends may add new nullable columns, and
  every read declares the manifest schema explicitly, so old files serve
  NULL for later columns and a mixed-schema file list can never depend on
  which footer Spark happens to sample (without a declared schema, a
  column added in batch 7 silently vanishes whenever the sampled footer
  predates it).

Concurrent writers: a commit publishes manifest v{N+1}, where N is the
version its writer read, CREATE-ONLY (written to a temp name, then
hard-linked into place), so readers never observe a torn manifest and two
writers racing for the same version cannot both succeed: the loser raises
ConcurrentAppendError — the object-store tier's conditional-PUT contract —
and its staged files stay unreferenced until snapshot_gc collects them.

This composes with the rest of the engine: the reference's catalog is
static JSON metadata over immutable S3 objects
(fpdb-catalogue/src/obj-store/ObjStoreCatalogueEntryReader.cpp) — a
manifest is the same idea made multi-version.
"""

from __future__ import annotations

import errno
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_REFS_DIR = "_refs"


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _MANIFEST_DIR, f"v{version}.json")


def _ref_path(root: str, name: str) -> str:
    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
        # the name doubles as a filename/object key; reject separators
        # and dotfiles before they hit the filesystem
        raise ValueError(f"invalid tag name {name!r}")
    return os.path.join(root, _REFS_DIR, f"{name}.json")


def snapshot_tag(
    root: str, name: str, version: int | None = None, replace: bool = False
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
    consumer resolves is the shadowing bug class again). Returns the
    pinned version."""
    versions = snapshot_versions(root)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {root!r}")
    version = versions[-1] if version is None else version
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    path = _ref_path(root, name)
    if not replace and os.path.exists(path):
        raise ValueError(
            f"tag {name!r} already exists (-> v{json.load(open(path))['version']}); "
            f"pass replace=True to move it deliberately")
    os.makedirs(os.path.join(root, _REFS_DIR), exist_ok=True)
    try:
        _publish(path, {"version": version}, replace=replace)
    except FileExistsError:
        raise ValueError(
            f"tag {name!r} already exists "
            f"(-> v{json.load(open(path))['version']}); "
            f"pass replace=True to move it deliberately") from None
    return version


def snapshot_tags(root: str) -> dict[str, int]:
    """All tags under the root as {name: version}."""
    rdir = os.path.join(root, _REFS_DIR)
    if not os.path.isdir(rdir):
        return {}
    out: dict[str, int] = {}
    for fname in os.listdir(rdir):
        if not fname.endswith(".json") or ".tmp-" in fname:
            continue
        with open(os.path.join(rdir, fname)) as f:
            out[fname[:-len(".json")]] = json.load(f)["version"]
    return out


def snapshot_untag(root: str, name: str) -> None:
    """Delete a tag — releasing its retention pin (the version becomes
    expirable by the next snapshot_gc horizon like any other)."""
    try:
        os.remove(_ref_path(root, name))
    except FileNotFoundError:
        raise ValueError(
            f"tag {name!r} not found (have: {sorted(snapshot_tags(root))})"
        ) from None


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


def _resolve_version(root: str, version: int | str | None) -> int | None:
    """Tag names resolve to their pinned version; ints/None pass through."""
    if not isinstance(version, str):
        return version
    tags = snapshot_tags(root)
    if version not in tags:
        raise ValueError(
            f"tag {version!r} not found (have: {sorted(tags)})")
    return tags[version]


def snapshot_versions(root: str) -> list[int]:
    """Committed versions, ascending (1-based)."""
    mdir = os.path.join(root, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        m = re.fullmatch(r"v(\d+)\.json", name)
        if m:  # skip editor artifacts / tmp files rather than brick the root
            out.append(int(m.group(1)))
    return sorted(out)


def _read_manifest(root: str, version: int) -> dict:
    try:
        with open(_manifest_path(root, version)) as f:
            return json.load(f)
    except FileNotFoundError:
        # the same error contract as snapshot_read: callers catch
        # ValueError and see the available versions, not an internal path
        raise ValueError(
            f"version {version} not in {snapshot_versions(root)} under {root!r}"
        ) from None


class ConcurrentAppendError(RuntimeError):
    """Another writer committed the same snapshot version first (local
    or object-store tier). The losing append's data files are
    unreferenced (invisible to every reader; the GC pass expires them) —
    retry the whole append to land the batch on the new latest version."""


def _publish(path: str, body: dict, replace: bool = False) -> None:
    """Write ``body`` as JSON at ``path`` atomically: to a temp name, then
    renamed (``replace=True``) or published CREATE-ONLY — FileExistsError
    when ``path`` exists. An exists-check followed by rename would
    silently overwrite on POSIX, so two racing creators would both
    "succeed" last-writer-wins — the race the remote tier closes with a
    conditional PUT. os.link refuses when the target exists. Filesystems
    WITHOUT hard-link support (some NFS/overlay/FAT mounts) raise
    OSError(EPERM/ENOTSUP) instead; there open(path, 'x') (O_CREAT|O_EXCL)
    gives the same create-only guarantee, at the cost of writing the
    payload twice and of a reader possibly seeing it half-written."""
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


def _commit(root: str, version: int, files: list[str], n_rows: int, parent: int | None,
            epoch: int | None = None, schema: dict | None = None) -> None:
    """Publish version ``version``'s manifest; ConcurrentAppendError if
    another writer committed that version first (its manifest is kept)."""
    os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)
    body = {"version": version, "files": sorted(files), "n_rows": n_rows,
            "parent": parent, "epoch": epoch, "schema": schema}
    try:
        _publish(_manifest_path(root, version), body)
    except FileExistsError:
        raise ConcurrentAppendError(
            f"version {version} under {root!r} was committed concurrently "
            f"by another writer; this commit's files are unreferenced — "
            f"retry to land them on the new latest version") from None


def _schema_dict(df_schema) -> dict:
    """A DataFrame schema as a manifest-storable dict, every field
    normalized to nullable — parquet treats all columns as optional, and a
    version's schema must admit later appends that omit a column (their
    rows read as NULL)."""
    from pyspark.sql import types as T

    return json.loads(
        T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in df_schema.fields]
        ).json()
    )


def _merge_schema(parent: dict | None, df_schema) -> dict:
    """Evolve the parent manifest schema with an appended frame's schema:
    brand-new columns are ADDED (nullable — earlier files serve NULL for
    them), existing columns must keep their exact type (no silent
    widening/narrowing: a type change is a rewrite, not an append — the
    same strictness Delta applies without an explicit type-change
    migration), and parent columns the frame omits REMAIN (the new rows
    read as NULL there). Column order: parent columns first, new columns
    appended in frame order."""
    from pyspark.sql import types as T

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


def snapshot_schema(root: str, version: int | str | None = None):
    """The recorded StructType of ``version`` (default: latest; a string
    is a tag name), or None for a pre-schema-evolution manifest (legacy
    roots keep their original sampled-footer read path)."""
    from pyspark.sql import types as T

    version = _resolve_version(root, version)
    versions = snapshot_versions(root)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {root!r}")
    m = _read_manifest(root, versions[-1] if version is None else version)
    s = m.get("schema")
    return None if s is None else T.StructType.fromJson(s)


def _parquet_files(d: str) -> list[str]:
    return [
        os.path.join(d, f)
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def _footer_rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows for p in files)


def _latest(root: str) -> int | None:
    versions = snapshot_versions(root)
    return versions[-1] if versions else None


def _stage_batch(
    df: DataFrame, root: str, prefix: str, version: int
) -> tuple[list[str], int]:
    """Write ``df`` as a new immutable batch directory for ``version`` —
    the staging half shared by snapshot_append and snapshot_rewrite (they
    differ only in what the manifest lists). Returns (new_files_rel,
    n_new_rows). The uuid suffix
    makes a failed write recoverable: a crash before the manifest publish
    leaves an orphan directory no manifest references (inert garbage,
    snapshot_gc collects it after the grace window) and the retry writes
    a fresh directory instead of colliding with the partial one. Row
    count comes from parquet footers (the catalog.zone_map pattern) — no
    Spark job per commit, which matters when every micro-batch commits."""
    batch_dir = os.path.join(
        root, _DATA_DIR, f"{prefix}-{version}-{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("error").parquet(batch_dir)
    written = _parquet_files(batch_dir)
    new_files = [os.path.relpath(p, root) for p in written]
    return new_files, _footer_rows(written)


def snapshot_append(df: DataFrame, root: str, epoch: int | None = None) -> int:
    """Append df as a new immutable batch; commit and return the new
    version. Data lands under data/batch-{version}-{uuid}/; the manifest
    is the parent's file list plus the new files (see _stage_batch for
    the crash-recovery story). Schema evolution: the committed schema is
    the parent's merged with df's — new columns append (earlier files
    read NULL for them), omitted parent columns stay (df's rows read
    NULL there), type changes raise BEFORE any data is staged (a failed
    merge must not leave an orphan batch directory). The commit is at
    the version after the manifest read here: if another writer commits
    that version meanwhile, this append raises ConcurrentAppendError
    rather than publish a file list that drops the other's files."""
    parent = _latest(root)
    prev = (
        _read_manifest(root, parent)
        if parent is not None
        else {"files": [], "n_rows": 0, "schema": None}
    )
    schema = _merge_schema(prev.get("schema"), df.schema)
    version = (parent or 0) + 1
    new_files, n_new = _stage_batch(df, root, "batch", version)
    _commit(root, version, prev["files"] + new_files, prev["n_rows"] + n_new, parent,
            epoch=epoch, schema=schema)
    return version


def snapshot_read(
    spark: SparkSession, root: str, version: int | str | None = None
) -> DataFrame:
    """Read the dataset as of `version` (default: latest; a STRING is a
    tag name, resolved through snapshot_tags). Spark plans
    exactly the manifest's files — no directory listing, no eventual-
    consistency window, identical bytes on every replay. A version whose
    manifest lists NO files (an all-rows-erased ``snapshot_rewrite``, the
    erasure terminal state) reads back as the EMPTY frame under its
    recorded schema — the same contract as the remote twin
    (arrow_s3_snapshot_read): an unreadable latest version would strand
    the store until the next append."""
    from pyspark.sql import types as T

    version = _resolve_version(root, version)
    versions = snapshot_versions(root)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {root!r}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    m = _read_manifest(root, version)
    if not m["files"]:
        schema = m.get("schema")
        if schema is None:
            raise ValueError(
                f"version {version} is empty and predates schema "
                f"recording — nothing to reconstruct a frame from")
        return empty_frame(spark, T.StructType.fromJson(schema))
    paths = [os.path.join(root, f) for f in m["files"]]
    schema = m.get("schema")
    if schema is None:  # legacy pre-schema manifest: original read path
        return spark.read.parquet(*paths)
    # the manifest schema is DECLARED on the read: files predating a
    # column serve NULL for it, and the result shape never depends on
    # which footer Spark samples from a mixed-schema file list
    return spark.read.schema(T.StructType.fromJson(schema)).parquet(*paths)


def snapshot_gc(
    root: str, retain_versions: int | None = None,
    orphan_grace_s: float = 600.0, older_than_s: float | None = None,
    dry_run: bool = False, _pre_delete_hook=None,
) -> dict[str, list[str]]:
    """Garbage-collect the snapshot root — the VACUUM analog. Two classes
    of dead files, both identified purely from manifests (no data reads):

    - **orphans**: ``data/`` files no manifest references (crashed writes
      that never committed — snapshot_append documents them as inert),
      deleted only once OLDER than ``orphan_grace_s``: an in-flight
      append stages its data files BEFORE committing the manifest, so an
      unreferenced-but-young file may be a write in progress — deleting
      it would corrupt the version about to commit. The grace window is
      the same writer-race guard as Delta/Iceberg VACUUM retention
      (public designs); set it above your longest plausible commit.
    - **expired**: with ``retain_versions=k``, manifests older than the
      newest k are dropped and any file referenced ONLY by dropped
      versions is deleted. ``older_than_s=t`` adds the AGE horizon
      (Delta's ``VACUUM RETAIN n HOURS`` shape): versions whose manifest
      mtime is older than ``t`` seconds drop too — with both given, a
      version drops if EITHER rule drops it. The newest version (and the
      newest epoch-bearing manifest — the streaming replay guard) always
      survive, whatever the horizons. Readers of retained versions are
      untouched (their manifests still list every file they need); time
      travel beyond the horizon is explicitly given up — the same
      contract as Delta/Iceberg retention.

    Returns {"orphans": [...], "expired": [...]} of deleted paths
    (root-relative). ``dry_run=True`` computes and returns the same
    report while deleting NOTHING (Delta's ``VACUUM ... DRY RUN``) — the
    review step an erasure/retention sweep runs before committing to
    byte-level deletion. Safe on a root with live readers of RETAINED
    versions: deletion only ever touches files no retained manifest
    references, and manifests are removed before their now-unreferenced
    files."""
    import time as _time
    if retain_versions is not None and retain_versions < 1:
        # versions[-0:] would silently keep EVERYTHING — the opposite of
        # the requested horizon; at least the newest version must survive
        raise ValueError(f"retain_versions must be >= 1, got {retain_versions}")
    versions = snapshot_versions(root)
    if not versions:
        return {"orphans": [], "expired": []}
    # each manifest is read ONCE and reused by the epoch scan and both
    # reference sets — on a streaming root with thousands of micro-batch
    # versions the previous three passes tripled GC's file I/O
    manifests = {v: _read_manifest(root, v) for v in versions}
    # copy, never alias `versions`: the age rule below edits `keep`
    keep = list(versions) if retain_versions is None \
        else versions[-retain_versions:]
    drop = [v for v in versions if v not in keep]
    if older_than_s is not None:
        # the age horizon (Delta VACUUM-RETAIN shape): a version's age is
        # its manifest's mtime; the newest version never age-drops (an
        # idle root must stay readable however old it gets)
        now = _time.time()
        for v in versions[:-1]:
            if v in drop:
                continue
            try:
                age = now - os.path.getmtime(_manifest_path(root, v))
            except FileNotFoundError:
                continue
            if age > older_than_s:
                drop.append(v)
                keep.remove(v)
        drop.sort()
    # TAGGED versions are retention-pinned (the snapshot_tag contract):
    # a consumer that tagged the corpus it trained on must keep reading
    # it until the tag is deliberately deleted, whatever the horizons.
    for tv in sorted(set(snapshot_tags(root).values())):
        if tv in drop:
            drop.remove(tv)
            keep = sorted(keep + [tv])
    # The newest EPOCH-BEARING manifest is the streaming sink's replay
    # guard (last_committed_epoch): if the retained tail were all
    # epoch-less compactions, expiring it would let a crash-replayed
    # micro-batch re-commit and duplicate rows. It is always retained,
    # whatever the horizon.
    for v in reversed(versions):
        if manifests[v].get("epoch") is not None:
            if v in drop:
                drop.remove(v)
                keep = sorted(keep + [v])
            break

    referenced_keep: set[str] = set()
    for v in keep:
        referenced_keep.update(manifests[v]["files"])
    referenced_drop: set[str] = set()
    for v in drop:
        referenced_drop.update(manifests[v]["files"])

    expired = sorted(referenced_drop - referenced_keep)
    # manifests first: a crash mid-GC must never leave a manifest whose
    # files are gone
    if not dry_run:
        # LAST-INSTANT tag re-read (the tag-vs-GC race): a snapshot_tag
        # landing after the reference-set build above but before the
        # deletes would be silently expired — the exact pin-travels-
        # with-the-data contract the tag exists to provide. Re-reading
        # tags immediately before the delete loop shrinks the race to
        # the read-to-delete instant below (~µs of local syscalls); a
        # tagger needing a HARD guarantee against a concurrent sweep
        # should verify its version still exists after tagging
        # (snapshot_tag returns the version; snapshot_versions confirms).
        # ``_pre_delete_hook`` is test injection for exactly this window.
        if _pre_delete_hook is not None:
            _pre_delete_hook()
        rescued = [tv for tv in sorted(set(snapshot_tags(root).values()))
                   if tv in drop]
        for tv in rescued:
            drop.remove(tv)
            keep = sorted(keep + [tv])
            referenced_keep.update(manifests[tv]["files"])
        if rescued:
            expired = sorted(referenced_drop - referenced_keep)
    expired_set = set(expired)
    if not dry_run:
        for v in drop:
            os.remove(_manifest_path(root, v))
        for rel in expired:
            try:
                os.remove(os.path.join(root, rel))
            except FileNotFoundError:
                pass

    orphans: list[str] = []
    now = _time.time()
    data_dir = os.path.join(root, _DATA_DIR)
    if os.path.isdir(data_dir):
        for dirpath, _dirs, files in os.walk(data_dir, topdown=False):
            # sidecars (_SUCCESS, .crc) are never manifest-listed, so they
            # must not be treated as orphans of a HEALTHY batch — they go
            # only when their directory holds no live data file at all
            data_files = [n for n in files if not n.startswith(("_", "."))]
            sidecars = [n for n in files if n.startswith(("_", "."))]
            for name in data_files:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, root)
                # expired files were already deleted above (or, in a dry
                # run, are reported in their own class) — never double-
                # report them as orphans
                if rel in referenced_keep or rel in expired_set:
                    continue
                try:
                    age = now - os.path.getmtime(full)
                except FileNotFoundError:
                    continue
                if age < orphan_grace_s:
                    continue  # possibly an append mid-commit: leave it
                if not dry_run:
                    os.remove(full)
                orphans.append(rel)
            if dry_run:
                continue  # report-only: leave sidecars/dirs untouched
            remaining = [
                n for n in os.listdir(dirpath) if not n.startswith(("_", "."))
            ]
            if not remaining:
                for name in sidecars:
                    try:
                        os.remove(os.path.join(dirpath, name))
                    except FileNotFoundError:
                        pass
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
    # tmp manifests from crashed commits (_commit writes vN.json.tmp-<uuid>
    # then publishes it): snapshot_versions skips them but nothing else ever
    # removed them — a long-lived root restarting after crashes would
    # accumulate them forever. Same grace window as data orphans (a young
    # tmp may be a commit in flight).
    mdir = os.path.join(root, _MANIFEST_DIR)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            if ".json.tmp-" not in name:
                continue
            full = os.path.join(mdir, name)
            try:
                if now - os.path.getmtime(full) < orphan_grace_s:
                    continue
                if not dry_run:
                    os.remove(full)
            except FileNotFoundError:
                continue
            orphans.append(os.path.relpath(full, root))
    return {"orphans": orphans, "expired": expired}


def snapshot_diff(
    spark: SparkSession,
    root: str,
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
    usual case) contribute NOTHING to the diff and are never scanned; the
    full-outer key join runs only over each side's private files. After a
    compaction (which rewrites the file list) the private sets degrade to
    the full snapshots and the join does the work; keys are assumed
    unique per snapshot (the ingest path dedups — callers with duplicate
    keys should diff on the full key). One shuffle by key either way."""
    ma = _read_manifest(root, _resolve_version(root, from_version))
    mb = _read_manifest(root, _resolve_version(root, to_version))
    fa, fb = set(ma["files"]), set(mb["files"])
    only_a, only_b = sorted(fa - fb), sorted(fb - fa)

    def _read(files: list[str], manifest: dict) -> DataFrame | None:
        if not files:
            return None
        paths = [os.path.join(root, f) for f in files]
        schema = manifest.get("schema")
        if schema is None:
            return spark.read.parquet(*paths)
        from pyspark.sql import types as T

        # each side reads under ITS version's recorded schema, so a column
        # added between the versions is NULL on the from side rather than
        # sampled-footer-dependent (see snapshot_read)
        return spark.read.schema(T.StructType.fromJson(schema)).parquet(*paths)

    a, b = _read(only_a, ma), _read(only_b, mb)
    return _diff_tagged(
        a, b, key_cols, detect_updates,
        lambda: snapshot_read(spark, root, to_version))


def _diff_tagged(
    a: DataFrame | None,
    b: DataFrame | None,
    key_cols: list[str],
    detect_updates: bool,
    empty_base,
) -> DataFrame:
    """The storage-free core of snapshot_diff: tag each side's private
    rows insert/delete (plus full-row null-safe updates on request) with
    one key-shuffle join. Shared verbatim by the local store's
    snapshot_diff and the object-store arrow_s3_snapshot_diff — the CDC
    semantics are a property of the manifest model, not of where the
    bytes live. ``empty_base`` lazily supplies a schema-bearing frame
    for the identical-file-lists case (no data is read from it)."""
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
    root: str,
    target_files: int = 1,
    zorder_cols: list[str] | None = None,
    row_group_bytes: int | None = None,
) -> int:
    """Rewrite the CURRENT version's file set into `target_files` files as
    a new version. Earlier versions keep reading their original files —
    compaction changes the file list, never history. The rewrite is one
    coalesce-write of the current snapshot (same economics as
    layout.compact_parquet: pay once, every later scan opens fewer
    files).

    `zorder_cols` makes this the OPTIMIZE-ZORDER maintenance pass of the
    lakehouse formats: the rewrite clusters rows along the Morton curve of
    those columns (layout.zorder_df), so every subsequent range predicate
    on ANY of them skips most row groups off footer stats — streaming
    ingest appends unclustered micro-batches cheaply, and the periodic
    compaction restores scan-pruning locality as a new version while every
    pinned training snapshot keeps its original files."""
    versions = snapshot_versions(root)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {root!r}")
    parent = versions[-1]
    version = parent + 1
    cur = snapshot_read(spark, root, parent)
    batch_dir = os.path.join(
        root, _DATA_DIR, f"compact-{version}-{uuid.uuid4().hex[:8]}"
    )
    if zorder_cols:
        from pysparkdb.sources.layout import zorder_df

        # range-partition straight to the target file count: a coalesce
        # AFTER the range exchange could merge non-adjacent z-bands into
        # one file and widen its row-group zone maps back out
        out = zorder_df(cur, zorder_cols, n_partitions=target_files)
    else:
        out = cur.coalesce(target_files)
    w = out.write.mode("error")
    if row_group_bytes is not None:
        w = w.option("parquet.block.size", str(row_group_bytes))
    w.parquet(batch_dir)
    files = [os.path.relpath(p, root) for p in _parquet_files(batch_dir)]
    pm = _read_manifest(root, parent)
    # same rows, same schema: compaction carries the parent schema forward
    # (cur was READ with it, so the rewrite's footers already conform)
    _commit(root, version, files, pm["n_rows"], parent, schema=pm.get("schema"))
    return version


def snapshot_rewrite(spark: SparkSession, root: str, df: DataFrame) -> int:
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
    insert/delete feed downstream increments consume."""
    parent = _latest(root)
    version = (parent or 0) + 1
    files, n_rows = _stage_batch(df, root, "rewrite", version)
    # full replacement owns its schema outright: a rewrite may drop or
    # retype columns (it lists no historical files, so there is nothing
    # the declared schema must stay compatible with)
    _commit(root, version, files, n_rows, parent, schema=_schema_dict(df.schema))
    return version


def committed_epochs(root: str) -> set[int]:
    """Streaming epoch ids already committed to a manifest (see
    snapshot_stream_sink)."""
    return {
        m["epoch"]
        for v in snapshot_versions(root)
        for m in (_read_manifest(root, v),)
        if m.get("epoch") is not None
    }


def last_committed_epoch(root: str) -> int | None:
    """Newest epoch recorded by any manifest, walking back past
    non-streaming versions (manual appends / compactions carry no epoch).
    O(recent manifests) instead of committed_epochs' O(all) — the right
    guard for a long-running stream, valid because Spark epoch ids are
    monotonic per checkpoint."""
    for v in reversed(snapshot_versions(root)):
        e = _read_manifest(root, v).get("epoch")
        if e is not None:
            return e
    return None


def snapshot_stream_sink(stream_df: DataFrame, root: str, checkpoint_dir: str):
    """Structured-Streaming sink: every micro-batch commits as a snapshot
    version — the transaction-log streaming sink pattern (each version is
    an atomic, replayable batch boundary; downstream training jobs pin a
    version and get a frozen corpus while ingest continues).

    Exactly-once WITHOUT a transactional store: foreachBatch is
    at-least-once (a crash after the data write but before the engine
    records the batch replays the SAME epoch_id), so the commit is made
    IDEMPOTENT on epoch_id — each manifest records the epoch that
    produced it, and a replayed epoch that already has a manifest is
    skipped. Epoch ids are monotonic per checkpoint, so a restart resumes
    appending where it stopped. One checkpoint per snapshot root: epoch
    ids are scoped to a checkpoint, so pointing a FRESH checkpoint at an
    old root would collide with its recorded epochs — pair them for the
    root's lifetime. Returns the DataStreamWriter; callers .start() it
    (trigger(availableNow=True) for drain-and-stop ingest).
    """

    return (
        stream_df.writeStream.foreachBatch(
            lambda batch_df, epoch_id: commit_epoch(batch_df, root, epoch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def commit_epoch(batch_df: DataFrame, root: str, epoch_id: int) -> int | None:
    """Idempotent micro-batch commit (the snapshot_stream_sink body,
    module-level so the replay guard is directly testable): append the
    batch as a new version unless this epoch already committed one —
    returns the new version, or None for a skipped replay. Monotonic
    epoch ids make ≤ last_committed_epoch the replay test (constant-ish
    manifest reads per batch, where a full committed-set scan would make
    a long stream quadratic in its own history)."""
    last = last_committed_epoch(root)
    if last is not None and epoch_id <= last:
        return None  # replay of an already-committed batch: exactly-once
    return snapshot_append(batch_df, root, epoch=epoch_id)
