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

Multi-object atomicity: ``arrow_s3_snapshot_append/read/versions`` (end
of this module) put versioned.py's manifest-snapshot protocol ON the
object store — data objects land via the single-PUT writer, the commit
point is one atomic manifest PUT, reads plan exactly a manifest's object
list (time travel, no LIST, no eventual-consistency window). Filters
beyond the DNF min/max form stay in the Spark plan above the scan.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from pysparkdb.sources.versioned import ConcurrentAppendError

# DNF filter: list of (column, op, literal) conjuncts, ANDed. Picklable —
# it ships to executors inside the task closure; pyarrow expressions do not
# pickle, so tasks rebuild the expression from this form.
Conjunct = tuple[str, str, object]

_OPS = ("==", "!=", "<", "<=", ">", ">=")


@dataclass(frozen=True)
class S3Conf:
    """Connection settings for pyarrow's S3FileSystem — the aws-config.conf
    analog for the jar-less path (endpoint/credentials/region, matching
    objectstore.s3a_confs' surface). A plain frozen dataclass of strings so
    it pickles into executor task closures; each task builds its own
    filesystem handle (S3FileSystem objects hold native connections and
    must not be shared across process boundaries)."""

    endpoint: str | None = None
    access_key: str | None = None
    secret_key: str | None = None
    region: str | None = None
    anonymous: bool = False

    def filesystem(self):
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
        return S3FileSystem(**kwargs)


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
    prefix-listing scan above and the manifest-pinned snapshot reads
    below (a snapshot plans exactly its manifest's objects; no LIST)."""
    from pyspark.sql.pandas.types import from_arrow_schema

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
    else:
        # declared schema describes exactly the projected output; columns
        # defaults to its fields (passing both requires them to agree)
        names = list(columns) if columns is not None else \
            [f.name for f in schema.fields]
        if names != [f.name for f in schema.fields]:
            raise ValueError("declared schema fields must equal columns")

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
                        file, filesystem=fs, format="parquet")
                    scanner = fragment.scanner(
                        columns=names, filter=expr, batch_size=batch_size,
                        use_threads=False)
                else:
                    pf = pads.ParquetFileFormat().make_fragment(
                        file, fs, row_groups=range(first_rg, first_rg + n_rgs))
                    scanner = pads.Scanner.from_fragment(
                        pf, columns=names, filter=expr,
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
    (arrow_s3_snapshot_append below)."""
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


# ---------------------------------------------------------------------------
# Manifest snapshots ON the object store — the multi-object atomic-commit
# protocol the single-PUT writer defers to (see arrow_s3_write_parquet).
# Same design as sources/versioned.py's local snapshot store (immutable
# batch objects + per-version JSON manifests; reads plan exactly the
# manifest's file list), re-expressed for S3 semantics: the manifest PUT
# is the atomic commit point (S3 PUTs are all-or-nothing), a crashed
# append leaves only invisible orphan data objects (no manifest references
# them), and single-writer version assignment is the documented contract
# (the same one the local store carries; multi-writer CAS is what full
# table formats add). Schema evolution stays the LOCAL store's feature —
# these snapshots pin bytes, not schema history.
# ---------------------------------------------------------------------------


def arrow_s3_snapshot_versions(conf: S3Conf, uri: str) -> list[int]:
    """Committed snapshot versions under the prefix (one LIST)."""
    import re

    prefix = _strip_scheme(uri).rstrip("/")
    from pyarrow.fs import FileSelector, FileType

    fs = conf.filesystem()
    sel = FileSelector(f"{prefix}/_manifests", recursive=False,
                       allow_not_found=True)
    out = []
    for fi in fs.get_file_info(sel):
        if fi.type == FileType.File:
            m = re.fullmatch(r"v(\d+)\.json", fi.path.rsplit("/", 1)[-1])
            if m:
                out.append(int(m.group(1)))
    return sorted(out)


def _ref_key(keyprefix: str, name: str) -> str:
    import re

    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
        # the name doubles as an object key; reject separators/dotfiles
        raise ValueError(f"invalid tag name {name!r}")
    return f"{keyprefix}/_refs/{name}.json"


def arrow_s3_snapshot_tag(
    conf: S3Conf, uri: str, name: str, version: int | None = None,
    replace: bool = False,
) -> int:
    """Pin ``version`` (default: latest) under a NAMED TAG on the object
    store — the remote twin of ``snapshot_tag`` with the identical
    contract: readers resolve the name (``arrow_s3_snapshot_read(...,
    version="train-v1")``, ``Engine.attach_arrow_s3_snapshot(...,
    version="train-v1")``), and a tagged version is RETENTION-PINNED
    (``arrow_s3_snapshot_gc``'s horizons never expire it until
    ``arrow_s3_snapshot_untag``). Overwriting refuses without
    ``replace=True``. Returns the pinned version."""
    import json

    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    versions = arrow_s3_snapshot_versions(conf, uri)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {uri!r}")
    version = versions[-1] if version is None else version
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    client = _boto3_client(conf)
    key = _ref_key(keyprefix, name)
    payload = json.dumps({"version": version}).encode()
    if replace:
        client.put_object(Bucket=bucket, Key=key, Body=payload)
        return version
    # replace=False is atomic where the store supports conditional
    # writes (the _commit_manifest pattern): two writers racing to
    # create the same tag cannot both "win" silently — the loser's
    # PUT fails 412. Stores that reject the precondition fall back to
    # a GET-check + plain PUT (the residual race is the check-to-PUT
    # window, same scope as the manifest fallback documents).
    from botocore.exceptions import ClientError, ParamValidationError

    def _exists_error():
        have = json.loads(client.get_object(
            Bucket=bucket, Key=key)["Body"].read())
        return ValueError(
            f"tag {name!r} already exists (-> v{have['version']}); "
            f"pass replace=True to move it deliberately")

    try:
        client.put_object(Bucket=bucket, Key=key, Body=payload,
                          IfNoneMatch="*")
        return version
    except ParamValidationError:
        pass  # botocore predates conditional writes: fallback below
    except ClientError as exc:
        code = exc.response.get("Error", {}).get("Code", "")
        if code in ("PreconditionFailed", "412"):
            raise _exists_error() from exc
        if code not in ("NotImplemented", "InvalidRequest",
                        "InvalidArgument"):
            raise
    try:
        client.get_object(Bucket=bucket, Key=key)
        raise _exists_error()
    except ClientError as exc:
        if exc.response.get("Error", {}).get("Code") \
                not in ("NoSuchKey", "404"):
            raise
    client.put_object(Bucket=bucket, Key=key, Body=payload)
    return version


def arrow_s3_snapshot_tags(conf: S3Conf, uri: str) -> dict[str, int]:
    """All tags under the root as {name: version} (one LIST + one GET
    per tag — tag counts are human-scale, not manifest-scale)."""
    import json

    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    from pyarrow.fs import FileSelector, FileType

    fs = conf.filesystem()
    sel = FileSelector(f"{prefix}/_refs", recursive=False,
                       allow_not_found=True)
    client = _boto3_client(conf)
    out: dict[str, int] = {}
    for fi in fs.get_file_info(sel):
        fname = fi.path.rsplit("/", 1)[-1]
        if fi.type != FileType.File or not fname.endswith(".json"):
            continue
        body = json.loads(client.get_object(
            Bucket=bucket,
            Key=f"{keyprefix}/_refs/{fname}")["Body"].read())
        out[fname[:-len(".json")]] = body["version"]
    return out


def arrow_s3_snapshot_untag(conf: S3Conf, uri: str, name: str) -> None:
    """Delete a tag — releasing its retention pin (the version becomes
    expirable by the next GC horizon like any other). Raises on a tag
    that does not exist (a typo'd untag must not silently 'succeed'
    while the real pin keeps bytes alive)."""
    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    tags = arrow_s3_snapshot_tags(conf, uri)
    if name not in tags:
        raise ValueError(f"tag {name!r} not found (have: {sorted(tags)})")
    _boto3_client(conf).delete_object(
        Bucket=bucket, Key=_ref_key(keyprefix, name))


def _arrow_resolve_version(
    conf: S3Conf, uri: str, version: int | str | None
) -> int | None:
    """Tag names resolve to their pinned version; ints/None pass through."""
    if not isinstance(version, str):
        return version
    tags = arrow_s3_snapshot_tags(conf, uri)
    if version not in tags:
        raise ValueError(f"tag {version!r} not found (have: {sorted(tags)})")
    return tags[version]


def _get_manifest(client, bucket: str, keyprefix: str, version: int) -> dict:
    """GET + parse one version manifest — the single site for the
    manifest key layout, shared by every reader (append's parent check,
    compaction, GC, epoch walk, _snapshot_manifest)."""
    import json

    return json.loads(client.get_object(
        Bucket=bucket, Key=f"{keyprefix}/_manifests/v{version}.json"
    )["Body"].read())


def _manifest_epoch(m: dict) -> int | None:
    """The newest micro-batch epoch a manifest can answer for: its own
    ``epoch`` (a streaming commit) or the ``last_epoch`` that appends,
    compactions and rewrites PROPAGATE forward from their parent. The
    propagation keeps the replay guard O(1): without it a maintenance-only
    manifest tail (compactions, erasure rewrites, manual appends) forces
    every micro-batch commit to GET backwards through all of it before the
    epoch check can answer — on a billable store that walk undercuts the
    1-LIST+1-GET hot path. With it the NEWEST manifest always answers in
    the one GET the commit already pays (legacy manifests predating the
    field still fall through to the bounded walk)."""
    e = m.get("epoch")
    return e if e is not None else m.get("last_epoch")


def _commit_manifest(client, bucket: str, key: str, body: dict) -> None:
    """PUT a version manifest with commit-collision detection.

    Primary signal: conditional PUT (``If-None-Match: *``) — on S3
    (which added conditional writes in 2024) and moto 5.x the losing
    writer's PUT fails 412 atomically, the exact CAS full table formats
    build on. Stores that REJECT the precondition (NotImplemented /
    InvalidRequest) get a plain PUT instead; stores that silently IGNORE
    the header return 200 with no guarantee — so a read-back of the
    manifest's ``commit_token`` ALWAYS follows a successful PUT (one
    extra GET per commit: cheap insurance on a once-per-version
    operation). The read-back catches the PUT-PUT-then-read ordering on
    non-conditional stores; their PUT-read-PUT-read interleave remains
    last-writer-wins, which is why the conditional path is primary and
    the residual scope is documented on the append."""
    import json

    from botocore.exceptions import ClientError, ParamValidationError

    payload = json.dumps(body).encode()
    try:
        client.put_object(
            Bucket=bucket, Key=key, Body=payload, IfNoneMatch="*")
    except ParamValidationError:
        # botocore predating conditional-write support rejects the
        # IfNoneMatch PARAMETER client-side (not a ClientError) — same
        # treatment as a store that rejects the precondition: plain PUT,
        # the read-back below is then the only collision signal
        client.put_object(Bucket=bucket, Key=key, Body=payload)
    except ClientError as exc:
        code = exc.response.get("Error", {}).get("Code", "")
        if code in ("PreconditionFailed", "412"):
            raise ConcurrentAppendError(
                f"snapshot version manifest {key!r} was committed by a "
                f"concurrent writer; this append's data objects are "
                f"orphaned (GC-expirable) — retry the append") from exc
        if code not in ("NotImplemented", "InvalidRequest",
                        "InvalidArgument"):
            raise
        # store rejected the precondition outright: plain PUT
        client.put_object(Bucket=bucket, Key=key, Body=payload)
    committed = json.loads(
        client.get_object(Bucket=bucket, Key=key)["Body"].read())
    if committed.get("commit_token") != body["commit_token"]:
        raise ConcurrentAppendError(
            f"snapshot version manifest {key!r} read back a different "
            f"writer's commit; this append lost the race — retry")


def arrow_s3_snapshot_append(
    df: DataFrame, uri: str, conf: S3Conf, retries: int = 0,
    epoch: int | None = None,
    _state: tuple[list[int], dict | None] | None = None,
) -> int:
    """Append ``df`` as a new immutable snapshot version on the object
    store; returns the committed version. Data objects land under
    ``data/batch-{uuid}/`` (version-agnostic on purpose — only the
    manifest binds a batch to a version, so a lost-race retry re-commits
    the SAME objects under the next version) via the distributed single-PUT
    writer; the commit is ONE manifest PUT listing the parent's objects
    plus the new batch — readers before the PUT see the old version,
    readers after see the new one, and a crash between data PUTs and the
    manifest PUT leaves only unreferenced (invisible) objects for a GC
    pass. Exactly-once publication of a multi-object write, which is the
    contract a bare parquet prefix cannot offer.

    The committed Spark schema is RECORDED in the manifest and every
    later append must match it exactly — a mixed-schema append would
    otherwise commit fine and then silently NULL/drop columns at read
    time (the reader's inference footer GET samples ONE object). Schema
    EVOLUTION (merging new nullable columns) is deliberately the local
    store's feature, not this one's: these snapshots pin bytes.

    Concurrent appenders are DETECTED, not merged: two writers that both
    list version N and compute N+1 race on the manifest PUT, and the
    commit goes through ``_commit_manifest`` — conditional PUT
    (``If-None-Match: *``, a 412 for the loser) where the store supports
    it, manifest read-back of the commit token as the fallback — so the
    loser raises ``ConcurrentAppendError`` instead of silently vanishing
    a batch. With ``retries=N`` the loser auto-lands: the data batch is
    already on the store (immutable, version-agnostic — only the
    manifest binds it), so a retry re-LISTs versions, re-reads the new
    latest manifest, and re-commits the SAME objects under the next
    version; nothing is rewritten and a scheduler-driven ingest needs no
    caller loop. After ``retries`` consecutive losses the error
    propagates and the batch's orphans are left to GC as before. What
    this does NOT provide is the winner's-retry MERGE a full table
    format's transaction log gives; on stores without conditional writes
    the fallback's detection window is the read-back, documented on
    ``_commit_manifest``."""
    import json
    import uuid

    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    client = _boto3_client(conf)
    batch_dir = f"batch-{uuid.uuid4().hex}"
    schema_json = df.schema.json()
    n_new = -1  # batch written lazily, once, on the first attempt
    new_files: list[str] = []
    for attempt in range(max(retries, 0) + 1):
        # _state: (versions, latest manifest) a caller just fetched —
        # arrow_s3_commit_epoch's per-micro-batch metadata reuse, so the
        # streaming hot path pays 1 LIST + 1 GET per commit instead of 2+2.
        # Consumed on the FIRST attempt only: a retry is a lost race, so
        # its state is stale by definition and must re-LIST.
        prefetched = _state if attempt == 0 else None
        versions = (prefetched[0] if prefetched is not None
                    else arrow_s3_snapshot_versions(conf, uri))
        version = (versions[-1] + 1) if versions else 0
        if versions:
            prev = (prefetched[1]
                    if prefetched is not None and prefetched[1] is not None
                    else _get_manifest(client, bucket, keyprefix,
                                       versions[-1]))
            if prev.get("schema") is not None \
                    and prev["schema"] != schema_json:
                raise ValueError(
                    f"appended frame's schema differs from the snapshot's "
                    f"committed schema under {uri!r}; these snapshots pin "
                    f"bytes — evolve schemas through sources/versioned.py")
        else:
            prev = {"files": [], "n_rows": 0, "bytes": 0}
        if n_new < 0:
            n_new = arrow_s3_write_parquet(
                df, f"{prefix}/data/{batch_dir}", conf)
            listed = arrow_s3_list(conf, f"{prefix}/data/{batch_dir}")
            new_files = sorted(p[len(prefix) + 1:] for p, _ in listed)
            new_bytes = sum(sz for _, sz in listed)
        body = {
            "version": version,
            "parent": versions[-1] if versions else None,
            "files": prev["files"] + new_files,
            "n_rows": prev["n_rows"] + n_new,
            "schema": schema_json,
            # unique per writer: collision witness (stable across this
            # writer's own retries — each retry is the same commit
            # re-aimed at a new version)
            "commit_token": batch_dir,
        }
        # total data bytes this version references — free metadata (the
        # batch LIST already returned sizes) that lets a snapshot attach
        # size the table for predicate-transfer ordering / broadcast
        # cutoffs without a LIST or per-object HEADs. Omitted (unknown)
        # when the parent predates the field: a partial sum would
        # understate the table and flip a broadcast decision the wrong way.
        if prev.get("bytes") is not None:
            body["bytes"] = prev["bytes"] + new_bytes
        prev_epoch = _manifest_epoch(prev)
        if epoch is None and prev_epoch is not None:
            # forward the replay horizon (see _manifest_epoch): a manual
            # append must not hide the streaming history behind itself
            body["last_epoch"] = prev_epoch
        if epoch is not None:
            # streaming provenance: the micro-batch epoch that produced
            # this version (arrow_s3_commit_epoch's replay guard)
            body["epoch"] = epoch
        try:
            _commit_manifest(
                client, bucket,
                f"{keyprefix}/_manifests/v{version}.json", body)
            return version
        except ConcurrentAppendError:
            if attempt >= retries:
                raise
    raise AssertionError("unreachable")  # loop always returns or raises


def arrow_s3_snapshot_schema(
    conf: S3Conf, uri: str, version: int | str | None = None
):
    """The committed StructType of ``version`` (default: latest) from its
    manifest — the remote twin of the local ``snapshot_schema``, and the
    zero-data-GET way to inspect a remote corpus's shape before reading
    (one LIST + one manifest GET; no parquet footer is touched). Returns
    None for a manifest that predates schema recording."""
    import json as _json

    from pyspark.sql import types as T

    _v, m = _snapshot_manifest(conf, uri, version)
    s = m.get("schema")
    return None if s is None else T.StructType.fromJson(_json.loads(s))


def arrow_s3_last_committed_epoch(conf: S3Conf, uri: str) -> int | None:
    """Newest micro-batch epoch recorded by any manifest — the remote twin
    of the local store's ``last_committed_epoch``. On any root written by
    this version the NEWEST manifest answers directly (appends,
    compactions and rewrites propagate ``last_epoch`` forward — see
    ``_manifest_epoch``), so the call is one LIST + one GET; only legacy
    manifests predating the field fall back to the reverse walk, valid
    because Spark epoch ids are monotonic per checkpoint."""
    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    client = _boto3_client(conf)
    for v in reversed(arrow_s3_snapshot_versions(conf, uri)):
        e = _manifest_epoch(_get_manifest(client, bucket, keyprefix, v))
        if e is not None:
            return e
    return None


def arrow_s3_commit_epoch(
    batch_df: DataFrame, uri: str, conf: S3Conf, epoch_id: int,
    retries: int = 2,
) -> int | None:
    """Idempotent micro-batch commit for the object-store snapshots (the
    ``arrow_s3_snapshot_stream_sink`` body, module-level so the replay
    guard is directly testable): append the batch as a new version
    unless this epoch already committed one — returns the new version,
    or None for a skipped replay. Monotonic epoch ids make
    ``<= last_committed_epoch`` the replay test, exactly as on the local
    tier. The append runs with ``retries`` because a maintenance
    compaction racing the stream is expected operation — the batch is
    epoch-new by the guard above, so auto-relanding it under the next
    version is safe (the same batch never double-commits: a WON commit
    records the epoch, making every later replay skip). The epoch walk's
    LIST + newest-manifest GET are REUSED by the append's first attempt
    (its `_state` hook), so a committed micro-batch costs one LIST + one
    manifest GET of metadata, not two of each — at second-scale triggers
    on a billable store the doubling is real money."""
    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    client = _boto3_client(conf)
    versions = arrow_s3_snapshot_versions(conf, uri)
    latest = None  # versions[-1]'s manifest (append's schema-check GET)
    last = None
    for v in reversed(versions):
        m = _get_manifest(client, bucket, keyprefix, v)
        if latest is None:
            latest = m
        e = _manifest_epoch(m)
        if e is not None:
            last = e
            break
    if last is not None and epoch_id <= last:
        return None  # replay of an already-committed batch: exactly-once
    return arrow_s3_snapshot_append(
        batch_df, uri, conf, retries=retries, epoch=epoch_id,
        _state=(versions, latest))


def arrow_s3_snapshot_stream_sink(
    stream_df: DataFrame, uri: str, conf: S3Conf, checkpoint_dir: str
):
    """Structured-Streaming sink committing every micro-batch as an
    object-store snapshot version — the remote twin of the local
    ``snapshot_stream_sink``, same contract: exactly-once WITHOUT a
    transactional store, because foreachBatch is at-least-once and the
    commit is idempotent on epoch_id (a replayed epoch that already has
    a manifest is skipped). Downstream training jobs pin a version
    (``Engine.attach_arrow_s3_snapshot``) and get a frozen corpus while
    ingest continues; ``arrow_s3_snapshot_diff`` ships them the delta
    when they move the pin. One checkpoint per snapshot root — epoch ids
    are scoped to a checkpoint, so pair them for the root's lifetime.
    Returns the DataStreamWriter; callers ``.start()`` it
    (``trigger(availableNow=True)`` for drain-and-stop ingest)."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda batch_df, epoch_id: arrow_s3_commit_epoch(
                batch_df, uri, conf, epoch_id)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )


def arrow_s3_snapshot_compact(
    spark: SparkSession, uri: str, conf: S3Conf, target_objects: int = 1
) -> int:
    """Compaction as a NEW version over the same rows — the OPTIMIZE
    maintenance pass for the object-store snapshots: streaming/micro-batch
    appends accumulate many small objects (one per partition per append),
    and since the object count IS the scan-task granularity, read
    parallelism degrades into per-key overhead. Reads the CURRENT
    version, rewrites it as ``target_objects`` objects, commits a version
    whose manifest references ONLY the new objects — pinned older
    versions keep their original files (time travel intact); the
    superseded small objects become expirable exactly like the local
    store's compaction."""
    import json
    import uuid

    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    versions = arrow_s3_snapshot_versions(conf, uri)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {uri!r}")
    current = arrow_s3_snapshot_read(spark, uri, conf)
    version = versions[-1] + 1
    batch_dir = f"batch-{version}-{uuid.uuid4().hex}"
    n = arrow_s3_write_parquet(
        current.repartition(target_objects), f"{prefix}/data/{batch_dir}",
        conf)
    listed = arrow_s3_list(conf, f"{prefix}/data/{batch_dir}")
    new_files = [p[len(prefix) + 1:] for p, _ in listed]
    client = _boto3_client(conf)
    prev = _get_manifest(client, bucket, keyprefix, versions[-1])
    body = {
        "version": version,
        "parent": versions[-1],
        "files": sorted(new_files),  # ONLY the compacted objects
        "n_rows": n,
        "bytes": sum(sz for _, sz in listed),
        "schema": prev.get("schema"),
        "compaction": True,
        "commit_token": batch_dir,
    }
    prev_epoch = _manifest_epoch(prev)
    if prev_epoch is not None:
        # forward the streaming replay horizon so the newest manifest
        # keeps answering the epoch check in one GET (_manifest_epoch)
        body["last_epoch"] = prev_epoch
    # compaction races like any append: an appender that committed this
    # version first must win (losing a compaction is cheap — retry;
    # losing an APPEND loses data)
    _commit_manifest(
        client, bucket, f"{keyprefix}/_manifests/v{version}.json", body)
    return version


def arrow_s3_snapshot_rewrite(
    df: DataFrame, uri: str, conf: S3Conf
) -> int:
    """Commit ``df`` as a FULL-REPLACEMENT version — the delete path of
    the object-store snapshots (retention sweeps, right-to-erasure,
    quality re-gating), completing the remote tier's parity with the
    local store's ``snapshot_rewrite``: unlike append (adds objects) and
    compact (same rows, fewer objects), the new manifest references ONLY
    the rewritten objects, so rows absent from ``df`` are gone from this
    version onward. History is untouched — pinned older versions keep
    reading their original objects until ``arrow_s3_snapshot_gc``'s
    version-horizon expiry (``retain_versions``) drops their manifests
    and reclaims the superseded bytes; ``arrow_s3_snapshot_diff``
    against the parent yields the insert/delete feed downstream
    increments consume (rewrite + horizon expiry is the complete
    erasure story — rewrite alone only erases going forward). A full
    replacement owns its schema outright — a rewrite may drop or retype
    columns, since the manifest lists no historical objects the declared
    schema must stay compatible with. Commit-collision semantics are
    compaction's: the loser raises ``ConcurrentAppendError`` with NO
    auto-retry, because a lost rewrite raced a commit whose rows it
    never saw — replaying it would silently erase them; recompute from
    the new latest and decide."""
    import uuid

    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    versions = arrow_s3_snapshot_versions(conf, uri)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {uri!r}")
    version = versions[-1] + 1
    batch_dir = f"rewrite-{version}-{uuid.uuid4().hex}"
    n = arrow_s3_write_parquet(df, f"{prefix}/data/{batch_dir}", conf)
    listed = arrow_s3_list(conf, f"{prefix}/data/{batch_dir}")
    new_files = sorted(p[len(prefix) + 1:] for p, _ in listed)
    client = _boto3_client(conf)
    body = {
        "version": version,
        "parent": versions[-1],
        "files": new_files,  # ONLY the rewritten objects
        "n_rows": n,
        "bytes": sum(sz for _, sz in listed),
        "schema": df.schema.json(),
        "rewrite": True,
        "commit_token": batch_dir,
    }
    prev_epoch = _manifest_epoch(
        _get_manifest(client, bucket, keyprefix, versions[-1]))
    if prev_epoch is not None:
        # forward the streaming replay horizon (_manifest_epoch): an
        # erasure rewrite must not reopen the door to a replayed batch
        body["last_epoch"] = prev_epoch
    _commit_manifest(
        client, bucket,
        f"{keyprefix}/_manifests/v{version}.json", body)
    return version


def arrow_s3_snapshot_read(
    spark: SparkSession,
    uri: str,
    conf: S3Conf,
    version: int | str | None = None,
    columns: list[str] | None = None,
    filters: list[Conjunct] | None = None,
) -> DataFrame:
    """Read the snapshot as of ``version`` (default latest; a string
    is a tag name, resolved through arrow_s3_snapshot_tags) — plans
    EXACTLY the manifest's object list (no LIST over the data prefix, no
    eventual-consistency window, identical bytes on every replay; the
    time-travel contract of the local snapshot store on the jar-less
    object-store path). Column pruning and DNF row-group skipping apply
    as in arrow_s3_read_parquet. A version whose manifest lists NO
    objects — an all-rows-erased ``arrow_s3_snapshot_rewrite``, the
    erasure path's terminal state — reads back as the EMPTY frame under
    its committed schema, exactly as the local twin does (an unreadable
    latest version would strand the store until the next append)."""
    version, m = _snapshot_manifest(conf, uri, version)
    if not m["files"]:
        schema_json = m.get("schema")
        if schema_json is None:
            raise ValueError(
                f"version {version} is empty and predates schema "
                f"recording — nothing to reconstruct a frame from")
        import json

        from pyspark.sql import types as T

        from pysparkdb.sources.versioned import empty_frame

        out = empty_frame(
            spark, T.StructType.fromJson(json.loads(schema_json)))
        return out.select(*columns) if columns else out
    prefix = _strip_scheme(uri).rstrip("/")
    return _read_parquet_files(
        spark, [f"{prefix}/{f}" for f in m["files"]], conf,
        columns=columns, filters=filters)


def _snapshot_manifest(
    conf: S3Conf, uri: str, version: int | str | None = None
) -> tuple[int, dict]:
    """Fetch (resolved version, manifest dict) — one GET after the
    version LIST, with version validation (and tag-name resolution: a
    string version resolves through arrow_s3_snapshot_tags) shared by
    every reader."""
    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    version = _arrow_resolve_version(conf, uri, version)
    versions = arrow_s3_snapshot_versions(conf, uri)
    if not versions:
        raise ValueError(f"no snapshot versions committed under {uri!r}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return version, _get_manifest(_boto3_client(conf), bucket,
                                   keyprefix, version)


def _snapshot_manifest_files(
    conf: S3Conf, uri: str, version: int | str | None = None
) -> tuple[int, list[str], dict]:
    """Resolve (version, absolute data-object paths, manifest) from a
    snapshot manifest — the read path's planning step, shared with
    Engine.attach_arrow_s3_snapshot (which also records the file list
    so the footer-stats profile needs no re-LIST, and uses the manifest's
    committed schema to register an all-rows-erased ``files: []`` version
    as the EMPTY view rather than refusing to pin the erasure terminal
    state)."""
    prefix = _strip_scheme(uri).rstrip("/")
    version, m = _snapshot_manifest(conf, uri, version)
    return version, [f"{prefix}/{f}" for f in m["files"]], m


def arrow_s3_snapshot_diff(
    spark: SparkSession,
    uri: str,
    conf: S3Conf,
    from_version: int | str,
    to_version: int | str,
    key_cols: list[str],
    detect_updates: bool = False,
) -> DataFrame:
    """Change-data feed between two committed object-store snapshot
    versions — the remote twin of the local store's ``snapshot_diff``,
    with the SAME contract (rows tagged ``_change ∈ {'insert','delete'}``
    by key membership; ``detect_updates=True`` adds full-row null-safe
    ``'update'`` rows) because the shared ``_diff_tagged`` core runs the
    identical one-key-shuffle plan; only the planning differs: two
    manifest GETs, file-level short-circuit on the explicit lists, and
    each side's PRIVATE objects read through the jar-less arrow reader.
    For the usual append-only history that means an incremental consumer
    ("ship me what changed since the version I trained on") GETs exactly
    the appended batch objects — never the corpus; after a compaction
    (which rewrites the file list) the private sets degrade to the full
    snapshots and the join does the work, exactly as documented on the
    local twin. Each side reads under ITS manifest's committed schema
    (appends refuse drift, but ``arrow_s3_snapshot_rewrite`` may drop or
    retype columns — across such a boundary footer inference would read
    the sides under divergent ad-hoc schemas; the local twin pins
    per-side schemas for the same reason, and ``_diff_tagged`` reconciles
    the declared difference via allowMissingColumns + typed nulls)."""
    import json as _json

    from pyspark.sql import types as T

    _va, ma = _snapshot_manifest(conf, uri, from_version)
    _vb, mb = _snapshot_manifest(conf, uri, to_version)
    prefix = _strip_scheme(uri).rstrip("/")
    fa, fb = set(ma["files"]), set(mb["files"])
    only_a, only_b = sorted(fa - fb), sorted(fb - fa)

    def _read(files: list[str], manifest: dict) -> DataFrame | None:
        if not files:
            return None
        s = manifest.get("schema")
        return _read_parquet_files(
            spark, [f"{prefix}/{f}" for f in files], conf,
            schema=None if s is None
            else T.StructType.fromJson(_json.loads(s)))

    from pysparkdb.sources.versioned import _diff_tagged

    return _diff_tagged(
        _read(only_a, ma), _read(only_b, mb), key_cols, detect_updates,
        lambda: arrow_s3_snapshot_read(spark, uri, conf, to_version))


def arrow_s3_snapshot_gc(
    conf: S3Conf, uri: str, orphan_grace_s: float = 600.0,
    retain_versions: int | None = None,
    older_than_s: float | None = None,
    dry_run: bool = False, _pre_delete_hook=None,
) -> dict[str, list[str]]:
    """Garbage-collect the object-store snapshot root — the VACUUM analog,
    now with BOTH dead-byte classes of the local twin (sources/
    versioned.py snapshot_gc), so the two tiers share one GC contract:

    - **orphans**: ``data/`` objects NO manifest references (crashed or
      race-losing appends — documented as inert), deleted only once older
      than ``orphan_grace_s`` by the store's own mtime: an in-flight
      append PUTs its data objects BEFORE the manifest commit, so an
      unreferenced-but-young object may belong to the version about to
      commit. Same writer-race guard as Delta/Iceberg VACUUM retention;
      set the grace above your longest plausible commit.
    - **expired**: with ``retain_versions=k``, manifests older than the
      newest k are DELETED and any object referenced ONLY by dropped
      versions goes with them. ``older_than_s=t`` adds the AGE horizon
      (Delta's ``VACUUM RETAIN n HOURS`` shape) keyed on each manifest
      object's store mtime; with both given, a version drops if EITHER
      rule drops it. This is what completes the right-to-erasure story:
      an ``arrow_s3_snapshot_rewrite`` erases rows from the new version
      onward, but the pre-rewrite manifests keep the erased bytes
      readable (and GC-immune) until the horizon expires them. Retained
      readers are untouched — their manifests still list every object
      they need; time travel beyond the horizon is explicitly given up.
      The newest version never drops, and the newest manifest carrying a
      streaming epoch signal (``_manifest_epoch``) is ALWAYS retained,
      whatever the horizon — expiring it would let a crash-replayed
      micro-batch re-commit and duplicate rows.

    Concurrent-writer safety of expiry: the newest version is always
    retained (``retain_versions >= 1``), and an in-flight append's
    manifest references only its parent's files (that newest retained
    version) plus its own fresh batch — the former expiry never touches,
    the latter is orphan-class and grace-protected. Manifests are deleted
    BEFORE their now-unreferenced objects, so a crash mid-GC can strand
    re-collectable bytes but never a manifest whose objects are gone.

    Returns {"orphans": [...], "expired": [...]} of deleted keys
    (root-relative). ``dry_run=True`` computes and returns the same
    report while deleting NOTHING (Delta's ``VACUUM ... DRY RUN``) — the
    review step an erasure/retention sweep runs before committing to
    byte-level deletion. One LIST + one GET per manifest + (unless
    dry_run) one DELETE per dead object."""
    import datetime

    if retain_versions is not None and retain_versions < 1:
        # versions[-0:] would silently keep EVERYTHING — the opposite of
        # the requested horizon; at least the newest version must survive
        raise ValueError(
            f"retain_versions must be >= 1, got {retain_versions}")
    prefix = _strip_scheme(uri).rstrip("/")
    bucket, keyprefix = _bucket_key(prefix, uri)
    client = _boto3_client(conf)
    versions = arrow_s3_snapshot_versions(conf, uri)
    # manifest GETs run on a driver thread pool, not a serial loop: a
    # streaming root commits one manifest per micro-batch, so a day at
    # second-scale triggers is ~86k manifests — serial GETs make GC a
    # driver-side scaling tail exactly like the footer planner's case
    # (boto3 clients are thread-safe for concurrent calls). Horizon
    # expiry itself is what keeps this count bounded over time.
    from concurrent.futures import ThreadPoolExecutor

    if versions:
        with ThreadPoolExecutor(
                max_workers=min(32, len(versions))) as pool:
            manifests = dict(zip(versions, pool.map(
                lambda v: _get_manifest(client, bucket, keyprefix, v),
                versions)))
    else:
        manifests = {}
    # copy, never alias `versions`: the age rule below edits `keep`
    keep = list(versions) if retain_versions is None \
        else versions[-retain_versions:]
    drop = [v for v in versions if v not in keep]
    if older_than_s is not None and versions:
        # the age horizon, keyed on each manifest OBJECT's store mtime
        # (one LIST over _manifests); the newest version never age-drops
        # — an idle root must stay readable however old it gets
        import re as _re

        from pyarrow.fs import FileSelector, FileType

        now = datetime.datetime.now(datetime.timezone.utc)
        fs = conf.filesystem()
        sel = FileSelector(f"{prefix}/_manifests", recursive=False,
                           allow_not_found=True)
        ages: dict[int, float] = {}
        for fi in fs.get_file_info(sel):
            if fi.type != FileType.File:
                continue
            mm = _re.fullmatch(r"v(\d+)\.json", fi.path.rsplit("/", 1)[-1])
            if mm is None:
                continue
            mtime = fi.mtime if fi.mtime.tzinfo else fi.mtime.replace(
                tzinfo=datetime.timezone.utc)
            ages[int(mm.group(1))] = (now - mtime).total_seconds()
        for v in versions[:-1]:
            if v not in drop and ages.get(v, 0.0) > older_than_s:
                drop.append(v)
                keep.remove(v)
        drop.sort()
    # TAGGED versions are retention-pinned (the snapshot_tag contract on
    # both tiers): a consumer that tagged the corpus it trained on must
    # keep reading it until the tag is deliberately deleted
    for tv in sorted(set(arrow_s3_snapshot_tags(conf, uri).values())):
        if tv in drop:
            drop.remove(tv)
            keep = sorted(keep + [tv])
    # replay-guard retention: the newest epoch-bearing (or epoch-
    # propagating) manifest stays — see the docstring and the local twin
    for v in reversed(versions):
        if _manifest_epoch(manifests[v]) is not None:
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
    # files are gone (the local twin's ordering)
    if not dry_run:
        # LAST-INSTANT tag re-read (the tag-vs-GC race, both tiers): an
        # arrow_s3_snapshot_tag conditional PUT landing after the
        # reference-set build above but before the deletes would be
        # silently expired — the pin-travels-with-the-data contract the
        # tag exists to provide. Re-reading tags immediately before the
        # delete loop shrinks the race to the read-to-delete instant
        # (one LIST + the DELETE round-trips); a tagger needing a HARD
        # guarantee against a concurrent sweep should verify its version
        # still exists after tagging (the tag call returns the version;
        # arrow_s3_snapshot_versions confirms). ``_pre_delete_hook`` is
        # test injection for exactly this window.
        if _pre_delete_hook is not None:
            _pre_delete_hook()
        rescued = [
            tv for tv in sorted(
                set(arrow_s3_snapshot_tags(conf, uri).values()))
            if tv in drop]
        for tv in rescued:
            drop.remove(tv)
            keep = sorted(keep + [tv])
            referenced_keep.update(manifests[tv]["files"])
        if rescued:
            expired = sorted(referenced_drop - referenced_keep)
        for v in drop:
            client.delete_object(
                Bucket=bucket, Key=f"{keyprefix}/_manifests/v{v}.json")
        for rel in expired:
            client.delete_object(Bucket=bucket, Key=f"{keyprefix}/{rel}")

    from pyarrow.fs import FileSelector, FileType

    fs = conf.filesystem()
    now = datetime.datetime.now(datetime.timezone.utc)
    orphans = []
    # set membership for the sweep: a streaming root after a horizon
    # expiry can have tens of thousands of both objects and expired
    # entries — list scans would make this O(objects × expired)
    expired_set = set(expired)
    sel = FileSelector(f"{prefix}/data", recursive=True, allow_not_found=True)
    for fi in fs.get_file_info(sel):
        if fi.type != FileType.File:
            continue
        rel = fi.path[len(prefix) + 1:]
        if rel in referenced_keep or rel in expired_set:
            continue
        mtime = fi.mtime if fi.mtime.tzinfo else fi.mtime.replace(
            tzinfo=datetime.timezone.utc)
        if (now - mtime).total_seconds() < orphan_grace_s:
            continue  # possibly an append mid-commit — leave it
        if not dry_run:
            client.delete_object(Bucket=bucket, Key=f"{keyprefix}/{rel}")
        orphans.append(rel)
    return {"orphans": sorted(orphans), "expired": expired}
