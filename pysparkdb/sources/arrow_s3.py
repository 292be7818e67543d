"""Jar-less object-store scan/write: executor-parallel S3 GET + Arrow decode.

The PRIMARY object-store path is the hadoop-aws S3A connector
(objectstore.py): a native Spark scan with full Catalyst filter/column
pushdown. But the pip pyspark distribution ships NO hadoop-aws or AWS SDK
jars, so environments without them (this sandbox; any cluster image built
from the pip wheel) cannot execute an s3a:// read at all. This module is
the fallback that needs nothing beyond pyarrow's BUNDLED S3FileSystem:
executor tasks issue the GETs and decode Arrow locally — structurally the
reference's S3GetPOp (fpdb-executor/src/physical/s3/S3GetPOp.cpp:1-527):
full-object/ranged GET + local parse, parallel across operators, vs
SelectPOp-style server-side filtering (S3 Select), which neither Spark
path has.

Scale shape (100 TB lens):
- The driver issues ONE list RPC per scan (plus one footer GET for schema
  inference when no schema is declared). Every data GET happens inside an
  executor task via ``mapInArrow`` (typed Arrow passthrough — no pandas
  hop, so nullable BIGINTs keep their type) — GET parallelism is the task count,
  exactly how the reference parallelizes S3GetPOp instances.
- Column pruning is real: only requested columns are decoded (and with
  parquet's columnar layout, only their byte ranges fetched by pyarrow's
  ranged reads). Row-group skipping is real: DNF filters evaluate against
  footer min/max statistics before any data page is read.
- One task per OBJECT by default: object stores parallelize across keys,
  and a well-laid-out 100 TB corpus is many objects of 100 MB-1 GB. A
  single-giant-object corpus needs ``split_row_groups=True`` (driver-side
  footer GET per file to build (file, row-group-range) tasks) — the same
  ranged-GET split S3GetPOp performs.
- Writes stream batches per partition through ``ParquetWriter`` onto the
  store (one object per non-empty partition) — no driver collect.

Multi-object atomicity: ``S3Root`` and ``_S3Store`` (end of this module)
are the object-store half of versioned.py's manifest-snapshot protocol —
every ``snapshot_*`` call takes an ``S3Root(uri, conf)`` as its root. Data
objects land via the single-PUT writer, the commit point is one
conditional manifest PUT, and reads plan exactly a manifest's object list
(time travel, no LIST, no eventual-consistency window). Filters beyond
the DNF min/max form stay in the Spark plan above the scan.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# DNF filter: list of (column, op, literal) conjuncts, ANDed. Picklable —
# it ships to executors inside the task closure; pyarrow expressions do not
# pickle, so tasks rebuild the expression from this form.
Conjunct = tuple[str, str, object]

_OPS = ("==", "!=", "<", "<=", ">", ">=")

# (process id, S3Conf) -> S3FileSystem; see S3Conf.filesystem
_FILESYSTEMS: dict = {}


@dataclass(frozen=True)
class S3Conf:
    """Connection settings for pyarrow's S3FileSystem — the aws-config.conf
    analog for the jar-less path (endpoint/credentials/region, matching
    objectstore.s3a_confs' surface). A plain frozen dataclass of strings so
    it pickles into executor task closures; each process builds its own
    filesystem handle (S3FileSystem objects hold native connections and
    must not be shared across process boundaries)."""

    endpoint: str | None = None
    access_key: str | None = None
    secret_key: str | None = None
    region: str | None = None
    anonymous: bool = False

    def filesystem(self):
        """This process's S3FileSystem for this conf, built on first use.
        A construction costs seconds where the AWS SDK probes instance
        metadata for a region; the handle is thread-safe, so the driver
        and each Python worker build one per conf and reuse it (threads
        racing the first call may each build one; all get the first
        stored). Keyed by process id as well, so a forked worker never
        inherits its parent's native connections."""
        key = (os.getpid(), self)
        fs = _FILESYSTEMS.get(key)
        if fs is None:
            from pyarrow.fs import S3FileSystem

            kwargs: dict = {}
            if self.endpoint is not None:
                kwargs["endpoint_override"] = self.endpoint
            if self.region is not None:
                kwargs["region"] = self.region
            if self.anonymous:
                kwargs["anonymous"] = True
            elif self.access_key is not None:
                kwargs["access_key"] = self.access_key
                kwargs["secret_key"] = self.secret_key
            fs = _FILESYSTEMS.setdefault(key, S3FileSystem(**kwargs))
        return fs


def _strip_scheme(uri: str) -> str:
    """pyarrow S3 paths are ``bucket/key`` — accept s3://, s3a:// or bare."""
    for scheme in ("s3a://", "s3://"):
        if uri.startswith(scheme):
            return uri[len(scheme):]
    return uri


def _bucket_key(prefix: str, uri: str) -> tuple[str, str]:
    """Split 'bucket/keyprefix' rejecting bucket-root URIs: an empty key
    prefix would mint leading-slash object keys on write and make GC's
    DeleteObject a silent no-op against the real keys (S3 deletes of
    nonexistent keys succeed)."""
    bucket, _, keyprefix = prefix.partition("/")
    if not keyprefix:
        raise ValueError(
            f"bucket-root URIs are not supported ({uri!r}); "
            f"use a key prefix inside the bucket")
    return bucket, keyprefix


def _filter_expr(filters: list[Conjunct] | None):
    """Rebuild a pyarrow dataset expression from the picklable DNF form."""
    if not filters:
        return None
    import pyarrow.dataset as pads

    expr = None
    for col, op, val in filters:
        if op not in _OPS:
            raise ValueError(f"unsupported filter op {op!r}; one of {_OPS}")
        f = pads.field(col)
        term = {
            "==": f == val, "!=": f != val, "<": f < val,
            "<=": f <= val, ">": f > val, ">=": f >= val,
        }[op]
        expr = term if expr is None else expr & term
    return expr


def arrow_s3_list(conf: S3Conf, prefix: str) -> list[tuple[str, int]]:
    """(path, size) for every non-empty ``.parquet`` object under the
    prefix — ONE recursive LIST RPC, the catalog-discovery primitive
    (hadoop_list_names' jar-less twin)."""
    from pyarrow.fs import FileSelector, FileType

    fs = conf.filesystem()
    sel = FileSelector(_strip_scheme(prefix).rstrip("/"), recursive=True,
                       allow_not_found=True)
    return sorted(
        (fi.path, fi.size)
        for fi in fs.get_file_info(sel)
        if fi.type == FileType.File and fi.size > 0
        and fi.path.endswith(".parquet")
    )


def arrow_s3_read_parquet(
    spark: SparkSession,
    uri: str,
    conf: S3Conf,
    columns: list[str] | None = None,
    filters: list[Conjunct] | None = None,
    schema=None,
    split_row_groups: bool = False,
    batch_size: int = 1 << 16,
) -> DataFrame:
    """Distributed parquet read from an S3-compatible store without
    hadoop-aws: one LIST + (if schema not declared) one footer GET on the
    driver, then every data GET + Arrow decode inside ``mapInArrow``
    tasks — the S3GetPOp execution shape on Spark executors.

    ``filters`` is an ANDed DNF list like ``[("n_nationkey", ">=", 5)]``:
    applied via pyarrow dataset scan, so row groups whose footer min/max
    exclude the range are never fetched, and residual rows are dropped
    during decode (exact, not best-effort — no Spark-side re-filter
    needed). ``columns`` prunes decode AND fetch (parquet is columnar;
    pyarrow issues ranged GETs per column chunk).

    The endpoint must be reachable from executors (on a cluster that means
    a real address, not 127.0.0.1). Declared ``schema`` (Spark StructType)
    skips the inference footer GET — the declared-schema contract
    files.py's local scans use."""
    path = _strip_scheme(uri)
    infos = arrow_s3_list(conf, path)
    if not infos and path.endswith(".parquet"):
        # a single object, not a prefix of objects — only if it EXISTS
        # (FileType.NotFound must fall through to the designed error, not
        # surface later as an obscure footer-read OSError)
        from pyarrow.fs import FileType

        fi = conf.filesystem().get_file_info(path)
        if fi.type == FileType.File:
            infos = [(path, fi.size)]
    if not infos:
        raise FileNotFoundError(f"no parquet objects under {uri!r}")
    return _read_parquet_files(
        spark, [p for p, _ in infos], conf, columns=columns,
        filters=filters, schema=schema, split_row_groups=split_row_groups,
        batch_size=batch_size)


def _read_parquet_files(
    spark: SparkSession,
    files: list[str],
    conf: S3Conf,
    columns: list[str] | None = None,
    filters: list[Conjunct] | None = None,
    schema=None,
    split_row_groups: bool = False,
    batch_size: int = 1 << 16,
) -> DataFrame:
    """The reader body over an EXPLICIT file list — shared by the
    prefix-listing scan above and the S3 snapshot store below (a snapshot
    plans exactly its manifest's objects; no LIST). A declared ``schema``
    is handed to every file's Arrow scan, so a file that predates a
    column serves NULL for it (an undeclared scan fails on the missing
    field) and other types are cast to the declared ones."""
    from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

    import pyarrow.parquet as pq

    if schema is None:
        # inference footer GET (one object's schema stands for the prefix —
        # the declared-schema contract makes mixed schemas the caller's bug)
        arrow_schema = pq.read_schema(files[0], filesystem=conf.filesystem())
        if columns is not None:
            missing = [c for c in columns if c not in arrow_schema.names]
            if missing:
                raise ValueError(f"columns not in parquet schema: {missing}")
            arrow_schema = arrow_schema.empty_table().select(columns).schema
        schema = from_arrow_schema(arrow_schema)
        names = list(arrow_schema.names)
        declared = None
    else:
        # declared schema describes exactly the projected output; columns
        # defaults to its fields (passing both requires them to agree)
        names = list(columns) if columns is not None else \
            [f.name for f in schema.fields]
        if names != [f.name for f in schema.fields]:
            raise ValueError("declared schema fields must equal columns")
        declared = to_arrow_schema(schema)

    # task units: (file, first_rg, n_rgs); -1 row groups = whole file
    if split_row_groups:
        # planning footer GETs run on a driver thread pool, not a serial
        # loop: at a 100k-object corpus a one-at-a-time footer fetch is a
        # driver-side scaling tail (pyarrow filesystems are thread-safe;
        # 32 in-flight ranged GETs keep planning latency ~constant in
        # file count / 32). split_row_groups exists for the pathological
        # few-giant-objects layout, but the planner shouldn't assume few.
        from concurrent.futures import ThreadPoolExecutor

        fs = conf.filesystem()
        with ThreadPoolExecutor(max_workers=min(32, len(files))) as pool:
            rg_counts = list(pool.map(
                lambda f: pq.read_metadata(f, filesystem=fs).num_row_groups,
                files))
        tasks = [
            (f, i, 1) for f, n_rgs in zip(files, rg_counts)
            for i in range(n_rgs)
        ]
    else:
        tasks = [(f, 0, -1) for f in files]

    def read_tasks(iterator: Iterator) -> Iterator:
        # mapInArrow, NOT mapInPandas: a pandas hop converts any
        # int64-with-nulls column to float64, silently altering nullable
        # BIGINT values above 2^53; Arrow batches pass through typed
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq  # noqa: F811 (executor-local import)

        fs = conf.filesystem()
        expr = _filter_expr(filters)
        for task_batch in iterator:
            for row in task_batch.to_pylist():
                file, first_rg, n_rgs = (
                    row["file"], row["first_rg"], row["n_rgs"])
                if n_rgs < 0:
                    fragment = pads.dataset(
                        file, filesystem=fs, format="parquet",
                        schema=declared)
                    scanner = fragment.scanner(
                        columns=names, filter=expr, batch_size=batch_size,
                        use_threads=False)
                else:
                    pf = pads.ParquetFileFormat().make_fragment(
                        file, fs, row_groups=range(first_rg, first_rg + n_rgs))
                    scanner = pads.Scanner.from_fragment(
                        pf, schema=declared, columns=names, filter=expr,
                        batch_size=batch_size, use_threads=False)
                for batch in scanner.to_batches():
                    if batch.num_rows:
                        yield batch

    task_df = spark.createDataFrame(
        tasks, "file string, first_rg int, n_rgs int"
    ).repartition(max(len(tasks), 1))
    return task_df.mapInArrow(read_tasks, schema=schema)


def arrow_s3_scan_stats(
    spark: SparkSession,
    uri: str,
    conf: S3Conf,
    columns: list[str] | None = None,
    assume_no_nan: bool = False,
) -> DataFrame:
    """COUNT/MIN/MAX/null-count over a remote parquet prefix answered
    ENTIRELY from footer statistics — zero data-page GETs. The jar-less
    twin of the DSv2 path's footer-stats aggregate pushdown
    (op_agg_pushdown / plans/pushdown.py) and of the reference's
    storage-side aggregate execution (the aggregate is a separable op
    pushed into the storage tier:
    fpdb-plan/src/prephysical/separable/SeparableTraits.cpp:13-36,
    fpdb-executor/src/physical/transform/PrePToS3PTransformer.cpp:154-196).
    A profile pass over a 100 TB corpus — row counts, column ranges,
    null ratios — reads a few KB of footer per object instead of the
    objects.

    Returns a ONE-ROW DataFrame: ``rows`` (BIGINT, COUNT(*)) plus, for
    each name in ``columns``, ``{c}_nulls`` (BIGINT — so COUNT(c) =
    rows - {c}_nulls) and, WHERE the footer can certify them,
    ``{c}_min``/``{c}_max`` in the column's own type. Stat selection is
    PER COLUMN, per function — the same eligibility split as the
    reference's separable-aggregate traits
    (SeparableTraits.cpp:13-36): a text corpus profiles its string
    columns' row/null counts exactly while min/max simply don't appear
    in the result, instead of the whole call refusing.

    Execution shape: one driver LIST + one schema footer GET, then the
    per-object footer reads run INSIDE ``mapInArrow`` tasks (the same
    distribution as the data scan — at 100k objects the metadata pass is
    executor-parallel, not a driver loop) emitting one partial row per
    object; a final Spark aggregate folds partials. The whole plan moves
    footer bytes only.

    Exactness rules (certify or omit/raise — never a maybe-wrong value):
    - No ``filters`` parameter EXISTS: footer min/max cannot answer a
      filtered aggregate exactly. Filtered work belongs on the data scan
      (Spark's own parquet aggregate pushdown fires only with no
      filters, for the same reason).
    - String/binary min/max are OMITTED (nulls still answered): parquet
      writers drop or truncate oversized binary stats (parquet-cpp's
      4 KB cap) while still flagging has_min_max — measured here: a 5 KB
      max value reads back as b'' — so binary footer stats are pruning
      bounds, not values. Spark's DSv2 parquet MIN/MAX pushdown excludes
      string/binary identically. Use the data scan for string extremes.
    - Float/double min/max are OMITTED unless ``assume_no_nan=True``:
      parquet writers exclude NaN from min/max while still setting
      has_min_max, but Spark's MIN/MAX order NaN above every value — a
      NaN-containing column's footer max is silently finite where the
      engine's MAX() is NaN. The footer records no NaN count, so only
      the caller can certify NaN-freeness; with the flag the stats are
      exact.
    - Nanosecond-timestamp min/max are OMITTED (pyarrow surfaces their
      stats through microsecond datetimes — a silent precision loss).
    - Every file's column TYPE must equal the first file's (checked in
      the executor tasks): a mixed-schema prefix where a later file
      stores the same name at a different type would otherwise fold a
      lossy stat straight past the type-based selection above.
    - A column chunk with missing statistics, or a missing null count,
      raises: partial footers mean the footer cannot certify the answer.
    - A per-chunk min > max (the dropped-oversized-stat corruption
      shape) raises as defense in depth."""
    path = _strip_scheme(uri)
    infos = arrow_s3_list(conf, path)
    if not infos and path.endswith(".parquet"):
        from pyarrow.fs import FileType

        fi = conf.filesystem().get_file_info(path)
        if fi.type == FileType.File:
            infos = [(path, fi.size)]
    if not infos:
        raise FileNotFoundError(f"no parquet objects under {uri!r}")
    return _scan_stats_files(
        spark, [p for p, _ in infos], conf, columns=columns,
        assume_no_nan=assume_no_nan)


def _stats_minmax_eligible(t, assume_no_nan: bool) -> str | None:
    """Per-column min/max eligibility for the footer-stats profile.
    Returns None when the footer can certify the column's min/max, else
    the reason string the docstring's rules name (the column still gets
    rows + null-count — the partial profile)."""
    import pyarrow as pa

    if pa.types.is_string(t) or pa.types.is_large_string(t) \
            or pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return ("parquet writers drop/truncate oversized binary stats "
                "while still flagging has_min_max — use the data scan "
                "for string/binary extremes")
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return ("pyarrow surfaces nanosecond-timestamp stats at "
                "microsecond precision — use the data scan")
    if pa.types.is_floating(t) and not assume_no_nan:
        return ("parquet min/max exclude NaN while Spark's MIN/MAX "
                "order NaN above every value — pass assume_no_nan=True "
                "to certify the column NaN-free, or scan the data")
    return None


def _scan_stats_files(
    spark: SparkSession,
    files: list[str],
    conf: S3Conf,
    columns: list[str] | None = None,
    assume_no_nan: bool = False,
    _tasks: int | None = None,
) -> DataFrame:
    """The footer-stats body over an EXPLICIT file list — shared by the
    prefix-listing form above and Engine.arrow_s3_table_stats (which
    profiles a view attached by attach_arrow_s3 without re-LISTing).
    Per-column stat selection and the exactness rules are documented on
    arrow_s3_scan_stats."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    cols = list(columns or [])
    file_schema = pq.read_schema(files[0], filesystem=conf.filesystem())
    col_types: dict[str, pa.DataType] = {}
    minmax_cols: list[str] = []
    for c in cols:
        if c not in file_schema.names:
            raise ValueError(f"column {c!r} not in parquet schema")
        t = file_schema.field(c).type
        col_types[c] = t
        if _stats_minmax_eligible(t, assume_no_nan) is None:
            minmax_cols.append(c)

    partial_fields = [pa.field("rows", pa.int64())]
    for c in cols:
        if c in minmax_cols:
            partial_fields += [
                pa.field(f"{c}__min", col_types[c]),
                pa.field(f"{c}__max", col_types[c]),
            ]
        partial_fields.append(pa.field(f"{c}__nulls", pa.int64()))
    partial_schema = pa.schema(partial_fields)
    # closure ships the arrow schema by its picklable parts
    col_list = list(cols)
    mm_set = set(minmax_cols)

    def read_footers(iterator: Iterator) -> Iterator:
        import pyarrow as pa  # noqa: F811 (executor-local import)
        import pyarrow.parquet as pq  # noqa: F811

        fs = conf.filesystem()
        fields = [pa.field("rows", pa.int64())]
        for c in col_list:
            if c in mm_set:
                fields += [pa.field(f"{c}__min", col_types[c]),
                           pa.field(f"{c}__max", col_types[c])]
            fields.append(pa.field(f"{c}__nulls", pa.int64()))
        schema = pa.schema(fields)
        for task_batch in iterator:
            for row in task_batch.to_pylist():
                file = row["file"]
                md = pq.read_metadata(file, filesystem=fs)
                file_arrow = md.schema.to_arrow_schema()
                idx = {md.schema.column(i).name: i
                       for i in range(md.num_columns)}
                missing = [c for c in col_list if c not in idx]
                if missing:
                    raise ValueError(
                        f"{file!r} lacks column(s) {missing} present in "
                        f"the prefix's first object — mixed schemas "
                        f"under one prefix are the caller's bug (the "
                        f"declared-schema contract), and footer stats "
                        f"cannot aggregate across them")
                # type drift past the driver's per-type stat selection
                # (e.g. a later file storing the column as ns-timestamp)
                # would fold a lossy stat silently — refuse, same spirit
                # as the missing-column guard above
                for c in col_list:
                    ft = file_arrow.field(
                        file_arrow.get_field_index(c)).type
                    if ft != col_types[c]:
                        raise ValueError(
                            f"{file!r} stores column {c!r} as {ft} but "
                            f"the prefix's first object stores "
                            f"{col_types[c]} — mixed column types defeat "
                            f"the footer's per-type exactness rules")
                rows = 0
                mins: dict[str, object] = {}
                maxs: dict[str, object] = {}
                nulls: dict[str, int] = dict.fromkeys(col_list, 0)
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    rows += rg.num_rows
                    for c in col_list:
                        st = rg.column(idx[c]).statistics
                        if st is None or not st.has_null_count:
                            raise ValueError(
                                f"{file!r} row group {g} column {c!r} "
                                f"lacks footer statistics; the footer "
                                f"cannot certify this aggregate — scan "
                                f"the data instead")
                        nulls[c] += st.null_count
                        if c not in mm_set:
                            continue  # nulls-only column
                        if st.null_count == rg.num_rows:
                            continue  # all-null group: no min/max to add
                        if not st.has_min_max:
                            raise ValueError(
                                f"{file!r} row group {g} column {c!r} "
                                f"has values but no min/max statistic")
                        if st.min > st.max:
                            raise ValueError(
                                f"{file!r} row group {g} column {c!r} "
                                f"footer min > max — corrupt/truncated "
                                f"statistics")
                        if c not in mins or st.min < mins[c]:
                            mins[c] = st.min
                        if c not in maxs or st.max > maxs[c]:
                            maxs[c] = st.max
                arrays = [pa.array([rows], pa.int64())]
                for c in col_list:
                    if c in mm_set:
                        arrays += [
                            pa.array([mins.get(c)], col_types[c]),
                            pa.array([maxs.get(c)], col_types[c]),
                        ]
                    arrays.append(pa.array([nulls[c]], pa.int64()))
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    # Task granularity differs from the DATA scan's one-task-per-object:
    # a footer read is a few KB, so per-task scheduling overhead would
    # dominate at a 100k-object corpus. Batch files per task, sized to
    # keep every core busy (4 waves across the session's parallelism)
    # without descending to one-file tasks. Measured curve (SCALE.md
    # round-12 section, scripts/footer_stats_scaling_probe.py): batched
    # latency grows near-flat in object count while one-task-per-object
    # pays per-task scheduling linearly. ``_tasks`` overrides the
    # heuristic for that measurement only.
    parallelism = spark.sparkContext.defaultParallelism
    n_tasks = _tasks or min(len(files), max(parallelism * 4, 1))
    task_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(n_tasks)
    partials = task_df.mapInArrow(
        read_footers, schema=from_arrow_schema(partial_schema))
    aggs = [F.sum("rows").cast("long").alias("rows")]
    for c in cols:
        if c in mm_set:
            aggs += [
                F.min(f"{c}__min").alias(f"{c}_min"),
                F.max(f"{c}__max").alias(f"{c}_max"),
            ]
        aggs.append(F.sum(f"{c}__nulls").cast("long").alias(f"{c}_nulls"))
    return partials.agg(*aggs)


def arrow_s3_read_csv(
    spark: SparkSession,
    uri: str,
    conf: S3Conf,
    schema,
    delimiter: str = ",",
    header: bool = True,
) -> DataFrame:
    """Distributed CSV read from an S3-compatible store without
    hadoop-aws — the S3GetPOp CSV-parse shape (the reference GETs whole
    CSV objects and parses locally, S3GetPOp.cpp; its aws-config names
    the same delimiter knobs files.py's local read_csv exposes). One
    driver LIST; each executor task GETs its object (transparently
    decompressed — .gz/.bz2/.zst by extension, pyarrow 'detect') and
    Arrow-parses it with the DECLARED schema (required: CSV carries no
    types; same contract as files.py's local scans).

    One task per object: CSV splits poorly (no row-group structure;
    compressed objects not at all), so object count IS the parallelism —
    which is also the reference's model (one S3GetPOp per object). Lay
    out CSV corpora as many objects."""
    from pyspark.sql.pandas.types import to_arrow_schema

    path = _strip_scheme(uri)
    fs = conf.filesystem()
    from pyarrow.fs import FileSelector, FileType

    sel = FileSelector(path.rstrip("/"), recursive=True, allow_not_found=True)
    files = sorted(
        fi.path for fi in fs.get_file_info(sel)
        if fi.type == FileType.File and fi.size > 0
    )
    if not files:
        fi = fs.get_file_info(path)
        if fi.type == FileType.File:
            files = [path]
    if not files:
        raise FileNotFoundError(f"no objects under {uri!r}")

    arrow_schema = to_arrow_schema(schema)
    names = [f.name for f in schema.fields]

    def read_files(iterator: Iterator) -> Iterator:
        import pyarrow.csv as pacsv

        fs = conf.filesystem()
        read_opts = pacsv.ReadOptions(
            column_names=None if header else names, use_threads=False)
        parse_opts = pacsv.ParseOptions(delimiter=delimiter)
        conv_opts = pacsv.ConvertOptions(
            column_types={f.name: f.type for f in arrow_schema})
        for task_batch in iterator:
            for row in task_batch.to_pylist():
                with fs.open_input_stream(
                        row["file"], compression="detect") as f:
                    table = pacsv.read_csv(
                        f, read_options=read_opts,
                        parse_options=parse_opts, convert_options=conv_opts)
                for batch in table.select(names).to_batches():
                    if batch.num_rows:
                        yield batch  # Arrow passthrough (no pandas hop)

    task_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(len(files))
    return task_df.mapInArrow(read_files, schema=schema)


def _boto3_client(conf: S3Conf):
    import boto3
    from botocore.config import Config

    # pool sized above the widest driver thread pool in this module (the
    # GC's and footer planner's 32 workers): botocore's default of 10
    # connections makes 32 concurrent GETs queue on the pool — measured
    # as "Connection pool is full" warnings plus serialized tail latency
    kwargs: dict = {"config": Config(max_pool_connections=64)}
    if conf.endpoint is not None:
        kwargs["endpoint_url"] = conf.endpoint
    if conf.region is not None:
        kwargs["region_name"] = conf.region
    if conf.anonymous:
        from botocore import UNSIGNED

        kwargs["config"] = Config(
            signature_version=UNSIGNED, max_pool_connections=64)
    elif conf.access_key is not None:
        kwargs["aws_access_key_id"] = conf.access_key
        kwargs["aws_secret_access_key"] = conf.secret_key
    return boto3.client("s3", **kwargs)


def arrow_s3_write_parquet(
    df: DataFrame, uri: str, conf: S3Conf, compression: str = "snappy",
    mode: str = "error",
) -> int:
    """Distributed parquet write to an S3-compatible store without
    hadoop-aws: each non-empty partition encodes its Arrow batches
    (mapInArrow — no pandas hop, so nullable BIGINT columns keep their
    type and their >2^53 values) through one ``ParquetWriter`` into an
    executor-local buffer, then publishes it as ONE object
    (``part-{pid}.parquet``) with a single atomic PUT — PUTs happen on
    executors, the driver sees only per-partition row counts. Returns
    total rows written.

    ``mode``: "error" (default) raises if the prefix already holds
    parquet objects — re-writing a live prefix with a different
    partition count would silently MERGE new part files with stale
    leftovers, the table-corruption case Spark's own save modes exist
    for; "overwrite" deletes the prefix's parquet objects first (readers
    mid-scan see a torn table — use the snapshot protocol below for
    atomic replacement); "append" writes uuid-suffixed objects beside
    the existing ones.

    Single-PUT by design, not limitation: S3 PUTs are atomic (an object
    either appears whole or not at all — no torn multipart commits, and
    no dependence on CompleteMultipartUpload semantics that S3-compatible
    stores implement unevenly; moto 5.x rejects the AWS C++ SDK's form,
    which is also why pyarrow's own streaming ObjectOutputStream cannot
    serve as the test-harness path). The buffer is bounded by partition
    size — which a scale-correct writer bounds anyway, since the object
    size IS the scan-task granularity on read-back (repartition to the
    100 MB-1 GB object target before writing; S3 single PUT caps at
    5 GB). Multi-object atomicity is the snapshot protocol's job
    (versioned.snapshot_append over an ``S3Root``)."""
    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    if mode not in ("error", "overwrite", "append"):
        raise ValueError(f"mode {mode!r} not in ('error','overwrite','append')")
    existing = arrow_s3_list(conf, prefix)
    if existing and mode == "error":
        raise FileExistsError(
            f"{uri!r} already holds {len(existing)} parquet object(s); "
            f"pass mode='overwrite' or mode='append' (stale part files "
            f"would otherwise merge into the new table)")
    if existing and mode == "overwrite":
        client = _boto3_client(conf)
        for path, _ in existing:
            client.delete_object(
                Bucket=bucket, Key=path[len(bucket) + 1:])
    suffix = ""
    if mode == "append" and existing:
        import uuid

        suffix = f"-{uuid.uuid4().hex[:8]}"

    def write_partition(iterator: Iterator) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        buf = pa.BufferOutputStream()
        writer = None
        n = 0
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if writer is None:
                writer = pq.ParquetWriter(
                    buf, batch.schema, compression=compression)
            writer.write_batch(batch)
            n += batch.num_rows
        if writer is not None:
            writer.close()
            # Zero-copy Body: a BufferReader streams straight from the
            # pyarrow Buffer (botocore accepts seekable file-likes but
            # rejects memoryview); to_pybytes() would copy the whole
            # encoded partition, doubling peak executor memory for an
            # object the 5 GB single-PUT cap already bounds
            _boto3_client(conf).put_object(
                Bucket=bucket,
                Key=f"{keyprefix}/part-{pid:05d}{suffix}.parquet",
                Body=pa.BufferReader(buf.getvalue()),
            )
        yield pa.RecordBatch.from_pydict({"rows": pa.array([n], pa.int64())})

    counts = df.mapInArrow(write_partition, schema="rows long").collect()
    return int(sum(r.rows for r in counts))


@dataclass(frozen=True)
class S3Root:
    """A snapshot root on an S3-compatible store — what every
    ``snapshot_*`` call of sources/versioned.py takes where it takes a
    local directory: ``snapshot_append(df, S3Root("s3://bkt/docs", conf))``."""

    uri: str
    conf: S3Conf


class _S3Store:
    """The versioned.py store calls over one S3 prefix: manifests and tags
    are JSON objects, data goes through the jar-less writer and reader
    above. Keys are prefix-relative."""

    def __init__(self, root: S3Root, client=None):
        self.name = root.uri
        self.conf = root.conf
        self.base = _strip_scheme(root.uri).rstrip("/")
        self.bucket, self.keyprefix = _bucket_key(self.base, root.uri)
        self.client = client or _boto3_client(root.conf)

    def path(self, key: str) -> str:
        return f"{self.base}/{key}"

    def _objects(self, prefix: str, recursive: bool) -> Iterator[dict]:
        """The ListObjectsV2 entries under ``prefix``. boto3, not the
        pyarrow filesystem: building an S3FileSystem costs seconds of
        driver time per call, a LIST page costs one round trip."""
        kwargs = {"Bucket": self.bucket, "Prefix": f"{self.keyprefix}/{prefix}/"}
        if not recursive:
            kwargs["Delimiter"] = "/"
        for page in self.client.get_paginator("list_objects_v2").paginate(
                **kwargs):
            yield from page.get("Contents", [])

    def list(self, prefix: str, recursive: bool = False) -> dict[str, float]:
        """{key: mtime} of the objects under ``prefix``."""
        return {o["Key"][len(self.keyprefix) + 1:]: o["LastModified"].timestamp()
                for o in self._objects(prefix, recursive)}

    def get(self, key: str) -> dict | None:
        from botocore.exceptions import ClientError

        try:
            body = self.client.get_object(
                Bucket=self.bucket, Key=f"{self.keyprefix}/{key}")["Body"]
        except ClientError as exc:
            if exc.response.get("Error", {}).get("Code") in ("NoSuchKey", "404"):
                return None
            raise
        return json.loads(body.read())

    def put(self, key: str, body: dict) -> None:
        self.client.put_object(Bucket=self.bucket, Key=f"{self.keyprefix}/{key}",
                               Body=json.dumps(body).encode())

    def put_if_absent(self, key: str, body: dict) -> None:
        """Create-only PUT; FileExistsError when ``key`` already exists.

        Primary signal: a conditional PUT (``If-None-Match: *``) — on S3
        (which added conditional writes in 2024) and moto 5.x the losing
        writer's PUT fails 412 atomically, the CAS full table formats
        build on. botocore predating conditional writes rejects the
        parameter client-side (ParamValidationError), and some stores
        reject the precondition (NotImplemented / InvalidRequest /
        InvalidArgument): both fall back to an existence check and a
        plain PUT. Stores that silently IGNORE the header return 200 with
        no guarantee, so every PUT is read back: a body other than this
        writer's (its commit token differs) means another writer won.
        That catches the PUT-PUT-then-read ordering on non-conditional
        stores; their PUT-read-PUT-read interleave stays last-writer-wins,
        which is why the conditional path is primary."""
        from botocore.exceptions import ClientError, ParamValidationError

        put = dict(Bucket=self.bucket, Key=f"{self.keyprefix}/{key}",
                   Body=json.dumps(body).encode())

        def plain_put():
            if self.get(key) is not None:
                raise FileExistsError(key)
            self.client.put_object(**put)

        try:
            self.client.put_object(IfNoneMatch="*", **put)
        except ParamValidationError:
            plain_put()
        except ClientError as exc:
            code = exc.response.get("Error", {}).get("Code", "")
            if code in ("PreconditionFailed", "412"):
                raise FileExistsError(key) from exc
            if code not in ("NotImplemented", "InvalidRequest",
                            "InvalidArgument"):
                raise
            plain_put()
        if self.get(key) != body:
            raise FileExistsError(
                f"{key} read back a different writer's commit")

    def delete(self, key: str) -> None:
        self.client.delete_object(Bucket=self.bucket,
                                  Key=f"{self.keyprefix}/{key}")

    def write_parquet(
        self, df: DataFrame, prefix: str, row_group_bytes: int | None = None
    ) -> tuple[list[str], int, int]:
        """Write ``df`` under ``prefix`` (one object per non-empty
        partition): (object keys, rows, bytes)."""
        if row_group_bytes is not None:
            raise ValueError(
                "row_group_bytes applies to local snapshot roots only; the "
                "object-store writer emits one row group per Arrow batch")
        n_rows = arrow_s3_write_parquet(df, self.path(prefix), self.conf)
        listed = {o["Key"][len(self.keyprefix) + 1:]: o["Size"]
                  for o in self._objects(prefix, True)}
        return sorted(listed), n_rows, sum(listed.values())

    def read_parquet(
        self, spark: SparkSession, files: list[str], schema
    ) -> DataFrame:
        return _read_parquet_files(
            spark, [self.path(f) for f in files], self.conf, schema=schema)
