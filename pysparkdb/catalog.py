"""Declared-schema catalog.

The reference declares every table's schema externally in catalog JSON
(/root/reference/resources/metadata/<schema>/schema.json, read by
fpdb-catalogue/src/obj-store/ObjStoreCatalogueEntryReader.cpp:300-316) with a
six-type system: int32, int64, float64, utf8, boolean, date. Here the same
role is played by explicit StructTypes; registration validates the on-disk
parquet footer against the declaration (schema drift fails fast, like the
reference's catalog/metadata mismatch errors) and registers a temp view so
both ``Engine.sql`` and the DataFrame API see the table.

Monetary columns are double, not decimal, matching the reference
(resources/metadata/tpch-sf0.01/csv/schema.json: l_extendedprice:double).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _tpch_like() -> dict[str, T.StructType]:
    L, I, D, S = T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType()
    TS = T.TimestampType()

    def st(*fields: tuple[str, T.DataType]) -> T.StructType:
        return T.StructType([T.StructField(n, t, True) for n, t in fields])

    return {
        "region": st(("r_regionkey", I), ("r_name", S)),
        "nation": st(("n_nationkey", I), ("n_name", S), ("n_regionkey", I)),
        "customer": st(
            ("c_custkey", L), ("c_name", S), ("c_nationkey", I),
            ("c_acctbal", D), ("c_mktsegment", S),
        ),
        "supplier": st(
            ("s_suppkey", L), ("s_name", S), ("s_nationkey", I), ("s_acctbal", D),
        ),
        "part": st(
            ("p_partkey", L), ("p_name", S), ("p_brand", S), ("p_type", S),
            ("p_size", I), ("p_retailprice", D),
        ),
        "orders": st(
            ("o_orderkey", L), ("o_custkey", L), ("o_orderstatus", S),
            ("o_totalprice", D), ("o_orderdate", TS), ("o_orderpriority", S),
        ),
        "lineitem": st(
            ("l_orderkey", L), ("l_partkey", L), ("l_suppkey", L),
            ("l_linenumber", I), ("l_quantity", D), ("l_extendedprice", D),
            ("l_discount", D), ("l_tax", D), ("l_returnflag", S),
            ("l_linestatus", S), ("l_shipdate", TS),
        ),
        "events": st(
            ("event_id", L), ("ts", TS), ("user_id", L), ("event_type", S),
            ("value", D), ("props", S),
        ),
        "documents": st(
            ("doc_id", L), ("text", S), ("lang", S), ("source", S),
            ("n_chars", L),
        ),
        "embeddings": st(
            ("vec_id", L), ("embedding", T.ArrayType(T.FloatType(), True)),
            ("label", I),
        ),
    }


#: table name -> declared StructType (the engine's "schema.json").
DECLARED_SCHEMAS: dict[str, T.StructType] = _tpch_like()

TABLE_NAMES = tuple(DECLARED_SCHEMAS)

#: CSV catalog file extensions, co-equal with parquet (gzip/bz2 decoded
#: transparently by Spark's CSV reader).
_CSV_EXTS = (".csv", ".csv.gz", ".csv.bz2")

#: JSON-lines extensions — beyond-ref format; same declared-schema rule as
#: CSV (JSON text carries no authoritative types, inference is forbidden).
_JSON_EXTS = (".json", ".json.gz")


def nanos_long_to_timestamp(colname: str):
    """Epoch-nanos LongType → TIMESTAMP, FLOOR division to microseconds.

    The one shared conversion for parquet TIMESTAMP(NANOS) columns read
    under spark.sql.legacy.parquet.nanosAsLong — used by both the batch
    catalog (_resolve_timestamps) and the streaming reader
    (streaming/windows.py:read_events_stream) so the two paths can never
    disagree on identical bytes. FLOOR, not bare `div` (which truncates
    toward zero): pre-1970 nanos would otherwise round up by 1 µs and
    disagree with every floor-based consumer (the rangejoin.py bucket
    idiom)."""
    from pyspark.sql import functions as F

    return F.timestamp_micros(
        F.expr(f"(`{colname}` - pmod(`{colname}`, 1000)) div 1000")
    )


def _types_compatible(declared: T.DataType, actual: T.DataType) -> bool:
    # Parquet timestamps may surface as NTZ depending on writer metadata;
    # both carry the same microsecond values under a UTC session tz.
    ts_types = (T.TimestampType, T.TimestampNTZType)
    if isinstance(declared, ts_types) and isinstance(actual, ts_types):
        return True
    if isinstance(declared, T.ArrayType) and isinstance(actual, T.ArrayType):
        return _types_compatible(declared.elementType, actual.elementType)
    return declared == actual


@dataclass
class Catalog:
    """Registers declared tables over a parquet directory as temp views.

    Mirrors the reference's CatalogueEntry per schema-name
    (fpdb-catalogue/include/fpdb/catalogue/CatalogueEntry.h): one Catalog
    instance == one data directory (a "schema" like tpch-sf0.01).
    """

    spark: SparkSession
    data_dir: str
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # registered file path per table (the file or directory its view
    # reads)
    paths: dict[str, str] = field(default_factory=dict)

    def register_all(self, validate: bool = True) -> "Catalog":
        """Register every declared table found under ``data_dir`` — parquet
        preferred, CSV (plain/gzip/bz2) co-equal, as in the reference's
        catalogs (resources/metadata/tpch-sf0.01/csv/schema.json declares
        the same tables over CSV)."""
        from pysparkdb.sources.objectstore import (
            hadoop_list_names,
            is_remote_path,
        )

        # Remote data_dirs (s3a://bucket/prefix, gs://, hdfs://) resolve
        # through ONE Hadoop directory listing — per-candidate existence
        # probes would cost tables × extensions serial metadata RPCs at
        # object-store latency (and os.path.exists would silently register
        # nothing for URIs).
        if not is_remote_path(self.data_dir) and not os.path.isdir(self.data_dir):
            # fail HERE, at the path the caller typed: silently registering
            # zero tables surfaces later as TABLE_OR_VIEW_NOT_FOUND with no
            # hint that the directory never existed
            raise FileNotFoundError(
                f"data_dir {self.data_dir!r} is not a directory"
            )
        present = (
            hadoop_list_names(self.spark, self.data_dir)
            if is_remote_path(self.data_dir)
            else set(os.listdir(self.data_dir))
        )
        sep_join = (
            (lambda n: self.data_dir.rstrip("/") + "/" + n)
            if is_remote_path(self.data_dir)
            else (lambda n: os.path.join(self.data_dir, n))
        )
        for name in TABLE_NAMES:
            for ext in (".parquet", *_CSV_EXTS, ".orc", *_JSON_EXTS):
                if name + ext in present:
                    self.register(name, sep_join(name + ext), validate=validate)
                    break
        return self

    def register(
        self,
        name: str,
        path: str,
        validate: bool = True,
        delimiter: str = "|",
        header: bool = False,
    ) -> DataFrame:
        if any(path.endswith(e) for e in _CSV_EXTS):
            from pysparkdb.sources.files import read_csv

            declared = DECLARED_SCHEMAS.get(name)
            if declared is None:
                raise ValueError(
                    f"table {name!r}: CSV registration needs a declared "
                    "schema (CSV carries none; inference is forbidden, "
                    "CSVFormat.h semantics)"
                )
            df = read_csv(
                self.spark, path, declared, delimiter=delimiter, header=header
            )
        elif any(path.endswith(e) for e in _JSON_EXTS):
            from pysparkdb.sources.files import read_json

            declared = DECLARED_SCHEMAS.get(name)
            if declared is None:
                raise ValueError(
                    f"table {name!r}: JSON registration needs a declared "
                    "schema (JSON text carries no authoritative types; "
                    "inference is forbidden, same rule as CSV)"
                )
            df = read_json(self.spark, path, declared)
        elif path.endswith(".orc"):
            from pysparkdb.sources.files import read_orc

            df = read_orc(self.spark, path, DECLARED_SCHEMAS.get(name))
        else:
            df = self.spark.read.parquet(path)
            df = self._resolve_timestamps(name, df)
        if validate and name in DECLARED_SCHEMAS:
            self._validate(name, df)
        df.createOrReplaceTempView(name)
        self.tables[name] = df
        self.paths[name] = path
        return df

    def _resolve_timestamps(self, name: str, df: DataFrame) -> DataFrame:
        """Normalize on-disk timestamp representations to declared TIMESTAMP.

        Two writer variants appear in the wild:
        - TIMESTAMP(NANOS): read as epoch-nanos longs under
          spark.sql.legacy.parquet.nanosAsLong; converted with integer `div`
          (not `/`) so ~1.7e18 nanos don't round through double; truncation
          toward zero matches DuckDB's ns→us behaviour for positive epochs.
        - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads these as
          TIMESTAMP_NTZ. Under the engine's fixed UTC session timezone the
          NTZ→LTZ cast is the identity on wall-clock values, and downstream
          operators (unix_micros, window, asof) see one consistent type.
        """
        from pyspark.sql import functions as F

        declared = DECLARED_SCHEMAS.get(name)
        if declared is None:
            return df
        actual = {f.name: f.dataType for f in df.schema.fields}
        for f in declared.fields:
            if not isinstance(f.dataType, T.TimestampType):
                continue
            if isinstance(actual.get(f.name), T.LongType):
                df = df.withColumn(f.name, nanos_long_to_timestamp(f.name))
            elif isinstance(actual.get(f.name), T.TimestampNTZType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        return df

    def _validate(self, name: str, df: DataFrame) -> None:
        declared = {f.name: f.dataType for f in DECLARED_SCHEMAS[name].fields}
        actual = {f.name: f.dataType for f in df.schema.fields}
        missing = set(declared) - set(actual)
        if missing:
            raise ValueError(f"table {name}: missing declared columns {sorted(missing)}")
        for col, dt in declared.items():
            if not _types_compatible(dt, actual[col]):
                raise ValueError(
                    f"table {name}.{col}: declared {dt} but parquet has {actual[col]}"
                )

    def table(self, name: str) -> DataFrame:
        if name not in self.tables:
            raise KeyError(f"table {name!r} not registered (have {sorted(self.tables)})")
        return self.tables[name]


# One Catalog per (session, data_dir): parquet footers are read once per
# process, not once per Engine/attach (a full register_all costs ~0.8-1 s
# in footer reads + view registration — measured as the dominant slice of
# every Engine-constructing certificate query, r15 optimization).
# Weak-keyed on the session so a stopped/discarded SparkSession releases
# its catalogs (an id()-keyed dict would both pin every session forever
# and risk serving a STALE catalog to a new session that reuses the old
# object's id after gc). Reuse is OPT-IN at the attach layer because a
# cached Catalog pins the data_dir's file list from first registration:
# correct for immutable benchmark/warehouse directories, wrong for a dir
# the caller rewrites between attaches.
import weakref as _weakref

_CATALOG_CACHE: "_weakref.WeakKeyDictionary[SparkSession, dict[str, Catalog]]" = (
    _weakref.WeakKeyDictionary()
)


def cached_catalog(spark: SparkSession, data_dir: str) -> Catalog:
    """The shared per-(session, data_dir) Catalog, built (validated) on
    first use. On reuse the temp views are re-pointed at the cached
    DataFrames so a caller that re-registered other data under the same
    names still gets THIS catalog's tables."""
    per_session = _CATALOG_CACHE.setdefault(spark, {})
    cat = per_session.get(data_dir)
    if cat is None:
        cat = Catalog(spark, data_dir).register_all(validate=True)
        per_session[data_dir] = cat
    else:
        for name, df in cat.tables.items():
            df.createOrReplaceTempView(name)
    return cat


def zone_map(path: str) -> list[dict]:
    """Per-row-group min/max statistics from the parquet footer — the
    reference's zoneMap.json, read from where Parquet already keeps it
    (per-partition min/max per column,
    fpdb-catalogue/src/obj-store/ObjStoreCatalogueEntryReader.cpp:318-333).

    No Spark job and no data pages touched: pyarrow reads footer metadata
    only. Spark's scan uses the same stats for row-group skipping
    (spark.sql.parquet.filterPushdown), so this is the *observable* form of
    the pruning the engine gets for free — PartitionPruner.cpp:23-52 parity
    as introspection rather than a re-implementation.

    Returns one dict per row group: {"num_rows": n, "columns":
    {col: {"min": x, "max": x, "null_count": n}}} (stats None when the
    writer omitted them).
    """
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    out: list[dict] = []
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        cols: dict = {}
        for ci in range(g.num_columns):
            c = g.column(ci)
            s = c.statistics
            cols[c.path_in_schema] = (
                {"min": s.min, "max": s.max, "null_count": s.null_count}
                if s is not None and s.has_min_max
                else {"min": None, "max": None, "null_count": None}
            )
        out.append({"num_rows": g.num_rows, "columns": cols})
    return out


def prunable_row_groups(path: str, column: str, lo, hi) -> tuple[int, int]:
    """Static zone-map pruning decision (PartitionPruner shape): how many
    row groups could be skipped for `column BETWEEN lo AND hi`.
    Returns (kept, total). Purely footer-driven, for plan auditing."""
    zones = zone_map(path)
    kept = 0
    for z in zones:
        st = z["columns"].get(column)
        if st is None or st["min"] is None:
            kept += 1  # no stats → must scan
            continue
        if not (st["max"] < lo or st["min"] > hi):
            kept += 1
    return kept, len(zones)
