"""Sources/sinks: CSV (delimiter, gzip), Parquet, pushdown scan contract.

Mirrors the reference's reader unit tests (fpdb-tuple/test/CSVTest.cpp,
ParquetTest.cpp) plus the SelectPOp pushdown contract, with round-trips
through the driver's real tables instead of hand-built fixtures.
"""

import os

import pytest
from pyspark.sql import functions as F

from pysparkdb.plans.pushdown import assert_pushdown
from pysparkdb.queries.base import tables
from pysparkdb.sources import (
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    scan,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
)


def _sorted_rows(df, keys):
    return [tuple(r) for r in df.orderBy(*keys).collect()]


@pytest.fixture()
def nation(spark, sf_dir):
    return tables(spark, sf_dir)["nation"]


def test_csv_roundtrip_pipe_delimited(spark, nation, tmp_path):
    path = str(tmp_path / "nation_csv")
    write_csv(nation, path, delimiter="|")
    back = read_csv(spark, path, nation.schema, delimiter="|")
    assert _sorted_rows(back, ["n_nationkey"]) == _sorted_rows(nation, ["n_nationkey"])


def test_csv_roundtrip_gzip_and_custom_delim(spark, nation, tmp_path):
    path = str(tmp_path / "nation_gz")
    write_csv(nation, path, delimiter="\t", compression="gzip")
    files = [f for f in os.listdir(path) if f.endswith(".csv.gz")]
    assert files, "expected gzip-compressed part files"
    back = read_csv(spark, path, nation.schema, delimiter="\t")
    assert _sorted_rows(back, ["n_nationkey"]) == _sorted_rows(nation, ["n_nationkey"])


def test_csv_roundtrip_bzip2(spark, nation, tmp_path):
    """bz2 codec parity (SelectPOp.cpp:112-135 supports GZIP and BZIP2)."""
    path = str(tmp_path / "nation_bz2")
    write_csv(nation, path, compression="bzip2")
    files = [f for f in os.listdir(path) if f.endswith(".csv.bz2")]
    assert files, "expected bzip2-compressed part files"
    back = read_csv(spark, path, nation.schema)
    assert _sorted_rows(back, ["n_nationkey"]) == _sorted_rows(nation, ["n_nationkey"])


def test_csv_roundtrip_timestamps(spark, sf_dir, tmp_path):
    """Timestamp columns survive the CSV round-trip (reference CSV scans
    parse date columns per the declared catalog schema)."""
    orders = tables(spark, sf_dir)["orders"].limit(200)
    path = str(tmp_path / "orders_csv")
    write_csv(orders, path)
    back = read_csv(spark, path, orders.schema)
    a = _sorted_rows(back, ["o_orderkey"])
    b = _sorted_rows(orders, ["o_orderkey"])
    assert a == b


def test_csv_json_roundtrip_microsecond_timestamps(spark, tmp_path):
    """Sub-second timestamps survive BOTH text round-trips exactly: the
    writers emit the full microsecond fraction (Spark's own default
    truncates to milliseconds) and the readers use the lenient default
    parse (a pinned format would NULL sub-second and ISO 'T' values
    under PERMISSIVE mode — silent corruption either way)."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00.123456",), ("2024-01-01T07:08:09.000001",),
         ("2024-01-01 01:02:03",)],
        "s string",
    ).select(F.col("s").cast("timestamp").alias("ts"))
    want = sorted(r.ts for r in df.collect())
    assert want[0].microsecond == 123456  # sanity: source kept micros

    csv_path = str(tmp_path / "micro_csv")
    write_csv(df, csv_path)
    assert sorted(
        r.ts for r in read_csv(spark, csv_path, df.schema).collect()
    ) == want

    json_path = str(tmp_path / "micro_json")
    write_json(df, json_path)
    assert sorted(
        r.ts for r in read_json(spark, json_path, df.schema).collect()
    ) == want


def test_csv_reader_accepts_pinned_source_format(spark, tmp_path):
    """A non-standard source pattern is still expressible per-call."""
    p = tmp_path / "weird.csv"
    p.write_text("31/12/2024 23:59\n")
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("ts", T.TimestampType())])
    rows = read_csv(
        spark, str(p), schema, timestamp_format="dd/MM/yyyy HH:mm"
    ).collect()
    assert rows[0].ts.year == 2024 and rows[0].ts.minute == 59


def test_parquet_roundtrip_with_declared_schema(spark, nation, tmp_path):
    path = str(tmp_path / "nation_parquet")
    write_parquet(nation, path)
    back = read_parquet(spark, path, nation.schema)
    assert _sorted_rows(back, ["n_nationkey"]) == _sorted_rows(nation, ["n_nationkey"])


def test_parquet_schema_evolution_merge(spark, nation, tmp_path):
    """Schema-evolution read: files written before a column existed surface
    it as NULL under merge_schema=True; the declared-superset path reads
    the same corpus without touching every footer."""
    path = str(tmp_path / "nation_evolved")
    old = nation.select("n_nationkey", "n_name")
    new = nation.select(
        "n_nationkey", "n_name", F.lit("added-later").alias("note")
    )
    old.write.parquet(path)
    new.write.mode("append").parquet(path)

    merged = read_parquet(spark, path, merge_schema=True)
    assert set(merged.columns) == {"n_nationkey", "n_name", "note"}
    n = nation.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("note").isNull()).count() == n

    # declared-superset read: same result, no footer-merge pass
    declared = read_parquet(spark, path, schema=merged.schema)
    assert declared.filter(F.col("note") == "added-later").count() == n


def test_json_roundtrip_with_timestamps(spark, sf_dir, tmp_path):
    """JSON-lines round-trip with a declared schema, including timestamp
    columns (beyond-ref format; schema is declared, never inferred)."""
    orders = tables(spark, sf_dir)["orders"].limit(200)
    path = str(tmp_path / "orders_json")
    write_json(orders, path)
    back = read_json(spark, path, orders.schema)
    assert _sorted_rows(back, ["o_orderkey"]) == _sorted_rows(orders, ["o_orderkey"])


def test_json_roundtrip_gzip(spark, nation, tmp_path):
    path = str(tmp_path / "nation_json_gz")
    write_json(nation, path, compression="gzip")
    files = [f for f in os.listdir(path) if f.endswith(".json.gz")]
    assert files, "expected gzip-compressed json part files"
    back = read_json(spark, path, nation.schema)
    assert _sorted_rows(back, ["n_nationkey"]) == _sorted_rows(nation, ["n_nationkey"])


def test_orc_roundtrip_and_filter_pushdown(spark, sf_dir, tmp_path):
    """ORC round-trip plus the pushdown contract: ORC scans accept pushed
    filters the same way parquet does (stripe stats → skip)."""
    orders = tables(spark, sf_dir)["orders"].limit(500)
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path, orders.schema)
    assert _sorted_rows(back, ["o_orderkey"]) == _sorted_rows(orders, ["o_orderkey"])
    plan = (
        read_orc(spark, path)
        .filter(F.col("o_orderkey") > 100)
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:80]


def test_partitioned_write_prunes_directories(spark, sf_dir, tmp_path):
    """partitionBy + partition-column filter → scan lists only the matching
    directory (write-side analog of zone-map partition pruning)."""
    orders = tables(spark, sf_dir)["orders"]
    path = str(tmp_path / "orders_by_status")
    write_parquet(orders, path, partition_by=["o_orderstatus"])
    statuses = [d for d in os.listdir(path) if d.startswith("o_orderstatus=")]
    assert len(statuses) > 1
    back = read_parquet(spark, path).filter(F.col("o_orderstatus") == "F")
    n_expected = orders.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == n_expected
    # Catalyst records the partition filter instead of a data filter
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_scan_pushdown_contract(spark, sf_dir):
    """scan(columns, predicate) on parquet → PushedFilters + pruned
    ReadSchema, the SelectPOp `select cols where pred` contract."""
    li = tables(spark, sf_dir)["lineitem"]
    df = scan(
        li,
        columns=["l_orderkey", "l_quantity"],
        predicate=F.col("l_quantity") < 10,
    )
    assert_pushdown(df, expect_filter_cols=["l_quantity"], max_read_columns=2)
    assert df.columns == ["l_orderkey", "l_quantity"]
    assert df.count() > 0


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """Co-located join layout: both sides bucketed (and sorted) on the join
    key → the hash join runs with ZERO Exchange operators, the write-once
    amortization of the per-query shuffle the reference always pays."""
    from pysparkdb.sources import write_bucketed

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = tables(spark, sf_dir)
        write_bucketed(t["lineitem"], "li_bkt", 8, ["l_orderkey"],
                       sort_cols=["l_orderkey"], path=str(tmp_path / "li"))
        write_bucketed(t["orders"], "o_bkt", 8, ["o_orderkey"],
                       sort_cols=["o_orderkey"], path=str(tmp_path / "o"))
        li, o = spark.table("li_bkt"), spark.table("o_bkt")
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        assert j.count() == t["lineitem"].count()  # FK: every line has its order
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS o_bkt")


def test_zone_map_reads_footer_stats(sf_dir):
    """zoneMap.json parity: per-row-group min/max straight from the parquet
    footer, no Spark job."""
    from pysparkdb.catalog import prunable_row_groups, zone_map

    zones = zone_map(f"{sf_dir}/lineitem.parquet")
    assert zones and all(z["num_rows"] > 0 for z in zones)
    st = zones[0]["columns"]["l_quantity"]
    assert st["min"] is not None and 1 <= st["min"] <= st["max"] <= 50
    # a predicate inside the domain keeps groups; one outside prunes all
    kept, total = prunable_row_groups(f"{sf_dir}/lineitem.parquet", "l_quantity", 1, 50)
    assert kept == total
    kept0, _ = prunable_row_groups(f"{sf_dir}/lineitem.parquet", "l_quantity", 999, 1000)
    assert kept0 == 0


def test_engine_scan_audit(spark, sf_dir):
    """Engine façade exposes the scan audit (SHOW_SCAN_METRICS analog)."""
    from pysparkdb import Engine

    eng = Engine(spark)
    tables(spark, sf_dir)
    audit = eng.scan_audit(
        "SELECT l_orderkey FROM lineitem WHERE l_quantity < 5"
    )
    assert any("l_quantity" in f for f in audit["pushed_filters"])
    assert set(audit["read_columns"]) == {"l_orderkey", "l_quantity"}
    assert "Scan parquet" in eng.explain("SELECT * FROM region")


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering on (o_custkey, o_totalprice) must let footer
    zone maps skip most row groups for a narrow range predicate on
    EITHER column — single-column sorting can only buy one of the two.
    Also: the relaid frame is a permutation of the input (no row
    gained/lost/changed)."""
    import glob

    from pysparkdb.catalog import prunable_row_groups
    from pysparkdb.sources.layout import write_zordered

    o = tables(spark, sf_dir)["orders"]
    # small row groups so one file yields many zone-map granules
    zpath = str(tmp_path / "orders_z")
    write_zordered(
        o.coalesce(1), zpath, ["o_custkey", "o_totalprice"], row_group_bytes=64 << 10
    )

    def kept_frac(root, col, lo, hi):
        kept = total = 0
        for f in glob.glob(root + "/*.parquet"):
            k, t = prunable_row_groups(f, col, lo, hi)
            kept += k
            total += t
        assert total >= 8, f"need many row groups to measure pruning, got {total}"
        return kept / total

    stats = o.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).first()
    ck_span = stats[1] - stats[0]
    tp_span = stats[3] - stats[2]
    # ~5%-wide range on each dimension
    ck = (stats[0] + 0.40 * ck_span, stats[0] + 0.45 * ck_span)
    tp = (stats[2] + 0.40 * tp_span, stats[2] + 0.45 * tp_span)
    assert kept_frac(zpath, "o_custkey", *ck) <= 0.5
    assert kept_frac(zpath, "o_totalprice", *tp) <= 0.5

    relaid = spark.read.parquet(zpath)
    assert sorted(map(tuple, relaid.collect())) == sorted(map(tuple, o.collect()))


def test_zorder_rejects_reserved_column_collisions(spark, sf_dir):
    """A user column named '_z' (or '_lo_<c>'/'_hi_<c>') must fail loudly:
    the old behavior silently replaced and dropped the user's '_z' data."""
    from pysparkdb.sources.layout import zorder_df

    l = tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_quantity"
    )
    with pytest.raises(ValueError, match="_z"):
        zorder_df(l.withColumn("_z", F.lit(1)), ["l_orderkey", "l_quantity"])
    with pytest.raises(ValueError, match="_lo_l_orderkey"):
        zorder_df(
            l.withColumn("_lo_l_orderkey", F.lit(1)),
            ["l_orderkey", "l_quantity"],
        )


def test_zorder_validates_bit_budget(spark, sf_dir):
    from pysparkdb.sources.layout import zorder_df

    o = tables(spark, sf_dir)["orders"]
    with pytest.raises(ValueError, match="bits"):
        zorder_df(o, ["o_custkey", "o_totalprice"], bits=32)
    with pytest.raises(ValueError, match="bits"):
        zorder_df(o, [], bits=12)


def test_console_renders_result_table(spark, sf_dir):
    """The interactive client front door (scripts/console.py, the
    Client::executeQuery analog) renders a row-oriented table with a row
    count, honoring the predicate-transfer toggle."""
    import io
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from console import run_statement

    from pysparkdb import Engine

    eng = Engine(spark, data_dir=sf_dir)
    for transfer in (False, True):
        out = io.StringIO()
        run_statement(
            eng,
            "SELECT r_name FROM region WHERE r_regionkey < 2 ORDER BY r_name;",
            timing=False, transfer=transfer, out=out,
        )
        text = out.getvalue()
        assert "| r_name" in text and "2 rows" in text, text


def test_console_statement_termination_respects_literals_and_comments():
    """A ';' inside a string literal or '--' comment must not terminate
    the buffered statement; only a significant trailing ';' does."""
    import sys

    sys.path.insert(0, "scripts")
    from console import sql_complete

    assert sql_complete("SELECT 1;")
    assert sql_complete("SELECT 1 ; -- trailing comment")
    assert sql_complete("SELECT 'a;\nb';")          # literal closed, then ;
    assert not sql_complete("SELECT 'a;")           # ; inside open literal
    assert not sql_complete("SELECT 'a;\nb'")       # closed but unterminated
    assert not sql_complete("-- step 1;")           # comment-only line
    assert not sql_complete("SELECT 1 -- not done;")
    assert sql_complete("SELECT 'it''s';")          # doubled-quote escape
    assert not sql_complete('SELECT "a;')           # double-quoted ident open
    assert not sql_complete("")
    assert sql_complete("SELECT 'don\\'t';")        # backslash escape closes
    assert not sql_complete("SELECT 'don\\'t;")     # still open after \'
    assert sql_complete("SELECT 'a\\\\';")          # escaped backslash, closed


def test_compact_parquet_shrinks_file_count(spark, sf_dir, tmp_path):
    """Compaction must collapse a many-small-files table to the byte-target
    file count without gaining/losing/changing a row."""
    from pysparkdb.sources.layout import compact_parquet

    li = tables(spark, sf_dir)["lineitem"]
    shredded = str(tmp_path / "li_shredded")
    li.repartition(24).write.parquet(shredded)

    import glob

    n_in = len(glob.glob(shredded + "/*.parquet"))
    assert n_in >= 24
    compacted = str(tmp_path / "li_compacted")
    total = sum(
        os.path.getsize(f) for f in glob.glob(shredded + "/*.parquet")
    )
    # target = half the table → exactly 2 output files
    n_out = compact_parquet(spark, shredded, compacted, target_file_bytes=(total + 1) // 2)
    assert n_out == 2, n_out
    a = spark.read.parquet(compacted)
    assert a.count() == li.count()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, li.collect()))


def test_zorder_skips_row_groups_at_runtime(spark, sf_dir, tmp_path):
    """Close the loop from layout to RUNTIME: a selective range scan over
    the Z-ordered table must emit far fewer rows from the parquet scan
    node than the table holds (row-group skipping actually engaged, not
    just statically possible) — measured off the executed plan's own
    scan metrics rather than footer math."""
    from pysparkdb.plans.metrics import collect_with_metrics
    from pysparkdb.sources.layout import write_zordered

    o = tables(spark, sf_dir)["orders"]
    total = o.count()
    zpath = str(tmp_path / "orders_zrt")
    write_zordered(
        o.coalesce(1), zpath, ["o_custkey", "o_totalprice"], row_group_bytes=64 << 10
    )
    z = spark.read.parquet(zpath)
    lo = o.agg(F.min("o_custkey")).first()[0]
    sel = z.filter(F.col("o_custkey") <= lo + 5)
    _rows, ops = collect_with_metrics(sel.groupBy().count())
    scan = next(op for op in ops if op["node"].startswith("Scan parquet"))
    assert 0 < scan["metrics"]["numOutputRows"] < total / 2, scan["metrics"]


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir, tmp_path):
    """DYNAMIC partition pruning: when the fact table is partitioned on the
    join key and the dim side carries a selective filter, Catalyst must
    inject a runtime `dynamicpruning` subquery into the fact scan's
    partition filters — the fact reads only partitions whose keys survive
    the dim filter, discovered AT RUN TIME from the broadcast build side.
    This is the runtime completion of the reference's static zone-map
    pruning (PartitionPruner.cpp simplifies predicates against min/max at
    PLAN time; DPP prunes on values no static analysis can know). At
    100 TB a date-partitioned fact joined to a filtered date dim reads
    only the qualifying days — the difference between a full scan and a
    sliver."""
    orders = tables(spark, sf_dir)["orders"]
    path = str(tmp_path / "orders_by_prio")
    write_parquet(orders, path, partition_by=["o_orderpriority"])
    fact = read_parquet(spark, path)
    dim = spark.createDataFrame(
        [("1-URGENT", "keep"), ("2-HIGH", "keep"), ("3-MEDIUM", "drop"),
         ("4-NOT SPECIFIED", "drop"), ("5-LOW", "drop")],
        "prio string, tag string",
    )
    joined = (
        fact.join(dim, fact["o_orderpriority"] == dim["prio"])
        .filter(F.col("tag") == "keep")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    got = {r.o_orderpriority: r.n for r in joined.collect()}
    expect = {
        r.o_orderpriority: r.n
        for r in orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# The snapshot contract, written once: each _check_* body runs on a local
# root (TestSnapshotVersioning, a tmp_path directory) and on an S3Root
# (TestArrowObjectStore, the moto endpoint) — the same protocol over the
# two stores of sources/versioned.py.
# ---------------------------------------------------------------------------


def _snap_store(root):
    from pysparkdb.sources.versioned import _store

    return _store(root)


def _snap_manifest(root, version):
    from pysparkdb.sources.versioned import _manifest_key

    return _snap_store(root).get(_manifest_key(version))


def _snap_data_keys(root) -> set:
    return set(_snap_store(root).list("data", recursive=True))


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def _plant(root, key, table):
    """A parquet object at root-relative ``key`` that no manifest lists —
    what a crashed or race-losing writer leaves behind."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pysparkdb.sources import S3Root

    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    if isinstance(root, S3Root):
        store = _snap_store(root)
        store.client.put_object(Bucket=store.bucket,
                                Key=f"{store.keyprefix}/{key}",
                                Body=buf.getvalue().to_pybytes())
    else:
        path = os.path.join(root, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(buf.getvalue().to_pybytes())


def _check_time_travel(spark, sf_dir, root):
    """Two appends → two versions (numbered from 1); an older version
    reads exactly its rows after later commits (immutability); latest is
    the union; an ORPHAN data object is invisible to every read —
    manifest-pinned planning, not prefix listing."""
    import pyarrow as pa

    from pysparkdb.sources import snapshot_append, snapshot_read, snapshot_versions

    nation = tables(spark, sf_dir)["nation"]
    batch1 = nation.filter(F.col("n_nationkey") < 10)
    v1 = snapshot_append(batch1, root)
    v2 = snapshot_append(nation.filter(F.col("n_nationkey") >= 10), root)
    assert (v1, v2) == (1, 2)
    assert snapshot_versions(root) == [1, 2]
    _plant(root, "data/batch-orphan/x.parquet", pa.table({"n_nationkey": [999]}))
    assert snapshot_read(spark, root, 1).count() == 10
    assert sorted(map(tuple, snapshot_read(spark, root, 1).collect())) == \
        sorted(map(tuple, batch1.collect()))
    assert snapshot_read(spark, root, 2).count() == nation.count()
    # default = latest
    keys = sorted(r.n_nationkey for r in
                  snapshot_read(spark, root).select("n_nationkey").collect())
    assert keys == sorted(r.n_nationkey for r in nation.collect())
    assert 999 not in keys  # the orphan never surfaces


def _check_diff(spark, sf_dir, root):
    """Reader-side CDC: appended keys are inserts, the reverse direction
    deletes, the self-diff is empty but keeps the ``_change`` column; after
    a COMPACTION (the file lists no longer share files) equal row sets
    still diff empty and the append still diffs cleanly across it."""
    from pysparkdb.sources import snapshot_append, snapshot_compact, snapshot_diff

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)     # v1
    snapshot_append(
        nation.filter(F.col("n_nationkey").between(10, 14)), root)      # v2
    d12 = snapshot_diff(spark, root, 1, 2, ["n_nationkey"])
    assert {(r.n_nationkey, r._change) for r in d12.collect()} == \
        {(k, "insert") for k in range(10, 15)}
    d21 = snapshot_diff(spark, root, 2, 1, ["n_nationkey"])
    assert {(r.n_nationkey, r._change) for r in d21.collect()} == \
        {(k, "delete") for k in range(10, 15)}
    self_diff = snapshot_diff(spark, root, 2, 2, ["n_nationkey"])
    assert self_diff.count() == 0 and "_change" in self_diff.columns
    v3 = snapshot_compact(spark, root)
    assert snapshot_diff(spark, root, 2, v3, ["n_nationkey"]).count() == 0
    d13 = snapshot_diff(spark, root, 1, v3, ["n_nationkey"])
    assert {(r.n_nationkey, r._change) for r in d13.collect()} == \
        {(k, "insert") for k in range(10, 15)}


def _check_rewrite(spark, sf_dir, root):
    """snapshot_rewrite is the erasure path: rows absent from the frame
    are gone from the new version while the parent still time-travels to
    them; each manifest owns its schema (a rewrite may scrub, drop or
    empty); diff against the parent feeds deletes and full-row updates;
    and the GC horizon reclaims the superseded bytes — rewrite + GC is
    the complete right-to-erasure story."""
    from pysparkdb.sources import (
        snapshot_append, snapshot_diff, snapshot_gc, snapshot_read,
        snapshot_rewrite, snapshot_schema,
    )

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation, root)                                        # v1
    survivors = nation.filter(F.col("n_nationkey") < 20) \
        .withColumn("n_comment", F.lit("[scrubbed]"))
    assert snapshot_rewrite(spark, root, survivors) == 2
    live = snapshot_read(spark, root)
    assert live.count() == 20
    assert {r.n_comment for r in live.select("n_comment").collect()} == \
        {"[scrubbed]"}
    assert snapshot_read(spark, root, 1).count() == nation.count()
    # each version's manifest owns its schema (nullable-normalized),
    # inspectable without a data or footer read
    assert _fields(snapshot_schema(root, 1)) == _fields(nation.schema)
    assert _fields(snapshot_schema(root)) == _fields(survivors.schema)
    # the membership feed: erased keys are pure deletes...
    d = snapshot_diff(spark, root, 1, 2, ["n_nationkey"])
    assert {(r.n_nationkey, r._change) for r in d.collect()} == \
        {(k, "delete") for k in range(20, 25)}
    # ...and detect_updates adds the scrubbed payloads under stable keys
    by_change: dict = {}
    for r in snapshot_diff(spark, root, 1, 2, ["n_nationkey"],
                           detect_updates=True).collect():
        by_change.setdefault(r._change, set()).add(r.n_nationkey)
    assert by_change == {"delete": set(range(20, 25)), "update": set(range(20))}
    # a rewrite may DROP a column: each side reads under its own schema,
    # and the dropped non-null payload surfaces as updates
    dropped = survivors.drop("n_comment")
    v3 = snapshot_rewrite(spark, root, dropped)
    assert _fields(snapshot_schema(root)) == _fields(dropped.schema)
    d23 = snapshot_diff(spark, root, 2, v3, ["n_nationkey"],
                        detect_updates=True).collect()
    assert {r._change for r in d23} == {"update"} and len(d23) == 20
    # the erasure terminal state reads back as the EMPTY frame
    v4 = snapshot_rewrite(spark, root, dropped.filter(F.lit(False)))
    empty = snapshot_read(spark, root)
    assert empty.count() == 0 and _fields(empty.schema) == _fields(dropped.schema)
    d34 = snapshot_diff(spark, root, v3, v4, ["n_nationkey"])
    assert {r._change for r in d34.collect()} == {"delete"}
    assert d34.count() == 20
    deleted = snapshot_gc(root, orphan_grace_s=0.0, retain_versions=1)
    assert deleted["expired"], "superseded v1-v3 bytes reclaimed"
    assert snapshot_read(spark, root).count() == 0


def _check_rewrite_to_empty(spark, sf_dir, root, eng, view):
    """The erasure terminal state on both stores: an all-rows-erased
    rewrite, and a literal ``files: []`` manifest, read back as the EMPTY
    frame under the recorded schema, and the engine pins that version as
    ``view`` — an unreadable latest version would strand the store."""
    from pysparkdb.sources import snapshot_append, snapshot_read, snapshot_rewrite
    from pysparkdb.sources.versioned import _commit, _head, _schema_dict

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation, root)                                        # v1
    v2 = snapshot_rewrite(spark, root, nation.filter(F.lit(False)))
    empty = snapshot_read(spark, root, v2)
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == nation.columns
    assert snapshot_read(spark, root, 1).count() == nation.count()
    # the literal empty-manifest shape (what the object-store writer
    # commits: empty partitions produce zero objects)
    versions, prev = _head(_snap_store(root))
    _commit(_snap_store(root), versions, prev, [], 0, 0,
            _schema_dict(nation.schema), "literal-empty")
    latest = snapshot_read(spark, root)
    assert latest.count() == 0 and latest.columns == nation.columns
    df = eng.attach_snapshot(view, root)
    assert df.schema == spark.table(view).schema
    assert [f.name for f in df.schema.fields] == nation.columns
    assert eng.sql(f"SELECT COUNT(*) AS n FROM {view}").collect()[0].n == 0


def _check_gc_orphans_and_retention(spark, sf_dir, root):
    """GC deletes only unreferenced-AND-old objects: a planted orphan is
    younger than the default grace (kept), older than a zero grace
    (deleted, reported by key); with a retention horizon, files only
    expired versions reference go while the retained version reads the
    same rows; a second sweep is a no-op; a zero horizon is refused."""
    import pyarrow as pa

    from pysparkdb.sources import (
        snapshot_append, snapshot_compact, snapshot_gc, snapshot_read,
        snapshot_versions,
    )

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)      # v1
    snapshot_append(nation.filter(F.col("n_nationkey") >= 10), root)     # v2
    _plant(root, "data/batch-orphan/x.parquet", pa.table({"n_nationkey": [999]}))
    before = _snap_data_keys(root)
    assert "data/batch-orphan/x.parquet" in before
    want = sorted(map(tuple, snapshot_read(spark, root).collect()))
    # a FRESH unreferenced file may be an append mid-commit
    assert snapshot_gc(root) == {"orphans": [], "expired": []}
    assert snapshot_gc(root, orphan_grace_s=0) == \
        {"orphans": ["data/batch-orphan/x.parquet"], "expired": []}
    assert _snap_data_keys(root) == before - {"data/batch-orphan/x.parquet"}
    assert sorted(map(tuple, snapshot_read(spark, root).collect())) == want
    v3 = snapshot_compact(spark, root)
    out = snapshot_gc(root, retain_versions=1, orphan_grace_s=0)
    assert out["expired"] and out["orphans"] == []
    assert snapshot_versions(root) == [v3]
    assert sorted(map(tuple, snapshot_read(spark, root, v3).collect())) == want
    assert snapshot_gc(root, orphan_grace_s=0) == {"orphans": [], "expired": []}
    with pytest.raises(ValueError, match="retain_versions"):
        snapshot_gc(root, retain_versions=0)


def _check_gc_age_horizon(spark, sf_dir, root, age_v1=None):
    """older_than_s is the VACUUM-RETAIN-shaped age horizon, keyed on the
    manifest's store mtime: with ``age_v1`` (a way to make v1's manifest
    two hours old) a 3600 s horizon drops exactly v1 — previewed first by
    a dry run; at 0 s every version is too old, yet the newest survives
    and keeps reading."""
    from pysparkdb.sources import (
        snapshot_append, snapshot_gc, snapshot_read, snapshot_rewrite,
        snapshot_versions,
    )

    region = tables(spark, sf_dir)["region"]
    snapshot_append(region, root)                                        # v1
    snapshot_rewrite(spark, root, region.filter(F.col("r_regionkey") < 3))  # v2
    snapshot_append(region.filter(F.col("r_regionkey") >= 3), root)     # v3
    v1_files = set(_snap_manifest(root, 1)["files"])
    if age_v1 is not None:
        age_v1()
        preview = snapshot_gc(root, older_than_s=3600, orphan_grace_s=0,
                              dry_run=True)
        assert snapshot_versions(root) == [1, 2, 3]
        assert snapshot_read(spark, root, 1).count() == region.count()
        out = snapshot_gc(root, older_than_s=3600, orphan_grace_s=0)
        assert out == preview, "the dry run previewed exactly this sweep"
        assert snapshot_versions(root) == [2, 3]
        assert out["expired"], "v1's exclusively-referenced files expire"
        assert snapshot_read(spark, root, 2).count() == 3
    out = snapshot_gc(root, older_than_s=0, orphan_grace_s=3600)
    assert snapshot_versions(root) == [3]
    assert snapshot_read(spark, root).count() == region.count()
    if age_v1 is None:
        assert set(out["expired"]) == v1_files, "v1's bytes reclaimed"
    assert not v1_files & set(_snap_manifest(root, 3)["files"])


def _check_tags(spark, sf_dir, root, view):
    """Named tags (the Iceberg-tag analog): readers resolve the NAME
    through read / attach_snapshot / diff; a tag is not silently movable
    and its name is key-safe; a tagged version is retention-PINNED (no GC
    horizon expires it) until the tag is deliberately deleted."""
    from pysparkdb.engine import Engine
    from pysparkdb.sources import (
        S3Root, snapshot_append, snapshot_diff, snapshot_gc, snapshot_read,
        snapshot_rewrite, snapshot_tag, snapshot_tags, snapshot_untag,
        snapshot_versions,
    )

    region = tables(spark, sf_dir)["region"]
    snapshot_append(region, root)                                        # v1
    snapshot_rewrite(spark, root, region.filter(F.col("r_regionkey") < 3))  # v2
    snapshot_append(region.filter(F.col("r_regionkey") >= 3), root)     # v3
    assert snapshot_tag(root, "train-v1", 1) == 1
    assert snapshot_tag(root, "latest-good") == 3  # default: latest
    assert snapshot_tags(root) == {"train-v1": 1, "latest-good": 3}
    assert snapshot_read(spark, root, "train-v1").count() == region.count()
    assert snapshot_diff(spark, root, "train-v1", "latest-good",
                         ["r_regionkey"]).count() == 0
    d = snapshot_diff(spark, root, "train-v1", 2, ["r_regionkey"])
    assert {(r.r_regionkey, r._change) for r in d.collect()} == \
        {(3, "delete"), (4, "delete")}
    eng = Engine(spark)
    try:
        eng.attach_snapshot(view, root, version="train-v1")
        assert spark.table(view).count() == region.count()
    finally:
        spark.catalog.dropTempView(view)
    with pytest.raises(ValueError, match="already exists"):
        snapshot_tag(root, "train-v1", 2)
    for bad in ("../escape", "a/b"):
        with pytest.raises(ValueError, match="invalid tag name"):
            snapshot_tag(root, bad, 1)
    if not isinstance(root, S3Root):
        # the winner landing between any existence check and the publish
        # still refuses the loser: the tag is published create-only
        import unittest.mock as _mock

        with _mock.patch("os.path.exists", return_value=False):
            with pytest.raises(ValueError, match="already exists"):
                snapshot_tag(root, "train-v1", 2)
    assert snapshot_tags(root)["train-v1"] == 1  # winner undisturbed
    snapshot_gc(root, retain_versions=1, orphan_grace_s=0)
    assert snapshot_versions(root) == [1, 3]
    assert snapshot_read(spark, root, "train-v1").count() == region.count()
    snapshot_untag(root, "train-v1")
    with pytest.raises(ValueError, match="not found"):
        snapshot_untag(root, "train-v1")
    out = snapshot_gc(root, retain_versions=1, orphan_grace_s=0)
    assert out["expired"]
    assert snapshot_versions(root) == [3]
    with pytest.raises(ValueError, match="not found"):
        snapshot_read(spark, root, "train-v1")


def _check_tag_during_gc(spark, sf_dir, root):
    """The tag-vs-GC race: a tag landing AFTER the sweep's keep set but
    BEFORE its deletes must still pin its version — the sweep re-reads
    tags at the last instant (injected through ``_pre_delete_hook``)."""
    from pysparkdb.sources import (
        snapshot_append, snapshot_gc, snapshot_read, snapshot_rewrite,
        snapshot_tag, snapshot_versions,
    )

    region = tables(spark, sf_dir)["region"]
    snapshot_append(region.filter(F.col("r_regionkey") < 2), root)       # v1
    snapshot_append(region.filter(F.col("r_regionkey") >= 2), root)      # v2
    # terminal rewrite-to-empty: v3 references NOTHING, so without the
    # racing tag the sweep would expire every byte v1/v2 hold
    snapshot_rewrite(spark, root, region.limit(0))                       # v3
    v1_files = set(_snap_manifest(root, 1)["files"])
    out = snapshot_gc(root, retain_versions=1, orphan_grace_s=0,
                      _pre_delete_hook=lambda: snapshot_tag(root, "late", 1))
    assert out["expired"]  # v2's exclusive bytes still reclaimed
    assert 1 in snapshot_versions(root) and 2 not in snapshot_versions(root)
    assert snapshot_read(spark, root, "late").count() == \
        region.filter(F.col("r_regionkey") < 2).count()
    assert not v1_files & set(out["expired"])


def _check_schema_evolution(spark, sf_dir, root):
    """An append may OMIT existing columns (its rows read NULL there —
    on the object store too, where the reader declares the manifest
    schema to every file's Arrow scan) or ADD one; a TYPE change raises
    before any data is staged."""
    from pysparkdb.sources import snapshot_append, snapshot_read

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation.filter(F.col("n_nationkey") < 5).select(
        "n_nationkey", "n_name", "n_regionkey"), root)
    snapshot_append(nation.filter(F.col("n_nationkey").between(5, 9)).select(
        "n_nationkey", "n_name"), root)                    # omits n_regionkey
    snapshot_append(nation.filter(F.col("n_nationkey") >= 10).select(
        "n_nationkey"), root)                                  # keeps only the key
    cur = snapshot_read(spark, root)
    assert cur.columns == ["n_nationkey", "n_name", "n_regionkey"]
    got = {r.n_nationkey: (r.n_name, r.n_regionkey) for r in cur.collect()}
    assert len(got) == nation.count()
    assert all(got[k][1] is not None for k in range(5))
    assert all(got[k][1] is None for k in range(5, 25))
    assert all(got[k][0] is None for k in range(10, 25))
    n_keys = len(_snap_data_keys(root))
    with pytest.raises(ValueError, match="schema evolution"):
        snapshot_append(nation.select(  # n_regionkey is integer in the history
            "n_nationkey",
            F.col("n_regionkey").cast("string").alias("n_regionkey")), root)
    assert len(_snap_data_keys(root)) == n_keys, "the failed merge staged nothing"


def _check_compaction_history(spark, sf_dir, root):
    """Compaction commits a new version over the same rows whose manifest
    lists ONLY the compacted files, while the pre-compaction versions
    still read their original files."""
    from pysparkdb.sources import snapshot_append, snapshot_compact, snapshot_read

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation.filter(F.col("n_nationkey") < 10).repartition(4), root)
    snapshot_append(nation.filter(F.col("n_nationkey") >= 10).repartition(4), root)
    v3 = snapshot_compact(spark, root, target_files=1)
    assert v3 == 3
    m3 = _snap_manifest(root, 3)
    assert m3["compaction"] and len(m3["files"]) == 1
    assert sorted(map(tuple, snapshot_read(spark, root, 3).collect())) == \
        sorted(map(tuple, nation.collect()))
    assert snapshot_read(spark, root, 1).count() == 10
    assert snapshot_read(spark, root, 2).count() == nation.count()
    assert len(_snap_manifest(root, 2)["files"]) >= 8


def _check_racing_append(spark, sf_dir, root, monkeypatch):
    """An append commits at the version after the manifest it read: a
    writer whose read went stale while another append landed raises
    ConcurrentAppendError instead of publishing a file list that drops
    the other's files; the winner's rows stay exactly readable, and the
    loser's retry lands on the new latest version."""
    from pysparkdb.sources import (
        ConcurrentAppendError, snapshot_append, snapshot_read, snapshot_versions,
    )
    from pysparkdb.sources import versioned

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation.filter(F.col("n_nationkey") < 5), root)       # v1
    stale = versioned._head(_snap_store(root))
    assert snapshot_append(nation.filter(F.col("n_nationkey") >= 20), root) == 2
    loser = nation.filter(F.col("n_nationkey").between(5, 9))
    monkeypatch.setattr(versioned, "_head", lambda store: stale)
    with pytest.raises(ConcurrentAppendError, match="concurrently"):
        snapshot_append(loser, root)
    monkeypatch.undo()
    assert snapshot_versions(root) == [1, 2]
    keys = {r.n_nationkey for r in snapshot_read(spark, root).collect()}
    assert keys == set(range(5)) | set(range(20, 25))
    assert snapshot_append(loser, root) == 3
    keys = {r.n_nationkey for r in snapshot_read(spark, root).collect()}
    assert keys == set(range(10)) | set(range(20, 25))


def _check_retries_reland(spark, sf_dir, root, monkeypatch):
    """retries=N: the losing writer re-reads the new latest manifest and
    re-commits its ALREADY-WRITTEN batch under the next version — both
    writers' rows present, the retried manifest lists one batch exactly
    once on top of the winner's files."""
    from pysparkdb.sources import snapshot_append, snapshot_read, snapshot_versions
    from pysparkdb.sources import versioned

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation, root)                                        # v1
    stale = versioned._head(_snap_store(root))
    snapshot_append(nation.limit(5), root)                               # A: v2
    real_head = versioned._head
    calls = []

    def stale_once(store):
        calls.append(None)
        return stale if len(calls) == 1 else real_head(store)

    monkeypatch.setattr(versioned, "_head", stale_once)
    staged = _snap_data_keys(root)
    assert snapshot_append(nation.limit(3), root, retries=2) == 3
    monkeypatch.undo()
    assert snapshot_versions(root) == [1, 2, 3]
    assert snapshot_read(spark, root).count() == nation.count() + 5 + 3
    m2, m3 = _snap_manifest(root, 2), _snap_manifest(root, 3)
    assert set(m2["files"]) < set(m3["files"])
    assert len(set(m3["files"])) == len(m3["files"])
    # nothing was rewritten: one batch was staged for both attempts
    assert _snap_data_keys(root) - staged == set(m3["files"]) - set(m2["files"])


def _check_retries_exhausted(spark, sf_dir, root, monkeypatch):
    """When every attempt races (the read pinned permanently stale),
    retries=1 raises after its second loss instead of spinning."""
    from pysparkdb.sources import ConcurrentAppendError, snapshot_append
    from pysparkdb.sources import versioned

    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation, root)                                        # v1
    stale = versioned._head(_snap_store(root))
    snapshot_append(nation.limit(2), root)                               # v2
    monkeypatch.setattr(versioned, "_head", lambda store: stale)
    with pytest.raises(ConcurrentAppendError):
        snapshot_append(nation.limit(1), root, retries=1)
    monkeypatch.undo()


def _check_stream_sink(spark, sf_dir, root, tmp_path):
    """Each micro-batch commits as one snapshot version; a REPLAYED epoch
    (foreachBatch's at-least-once failure mode) is skipped, not
    double-appended; a checkpoint-resumed run commits only the new data
    while earlier versions keep time-traveling."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pysparkdb.sources import (
        commit_epoch, last_committed_epoch, snapshot_read,
        snapshot_stream_sink, snapshot_versions,
    )

    land = tmp_path / "landing"
    land.mkdir()
    ckpt = str(tmp_path / "ckpt")
    docs = tables(spark, sf_dir)["documents"]

    def write_file(name, df):
        # single parquet FILE (the file-stream source does not recurse
        # into the directories df.write.parquet would create)
        pq.write_table(pa.Table.from_pandas(df.toPandas()), str(land / name))

    def drain():
        stream = spark.readStream.schema(docs.schema).parquet(str(land))
        q = snapshot_stream_sink(stream, root, ckpt).trigger(
            availableNow=True).start()
        q.awaitTermination(120)

    write_file("a.parquet", docs.filter(F.col("doc_id") < 100))
    drain()
    v_first = snapshot_versions(root)
    assert len(v_first) >= 1
    assert snapshot_read(spark, root).count() == 100
    epoch = last_committed_epoch(root)
    assert epoch is not None
    assert commit_epoch(docs.filter(F.col("doc_id") < 100), root, epoch) is None
    assert snapshot_versions(root) == v_first
    write_file("b.parquet", docs.filter(F.col("doc_id").between(100, 149)))
    drain()
    assert len(snapshot_versions(root)) == len(v_first) + 1
    assert snapshot_read(spark, root).count() == 150
    assert snapshot_read(spark, root, v_first[-1]).count() == 100


def _check_epoch_propagation(spark, sf_dir, root):
    """Appends, compactions and rewrites propagate ``last_epoch``, so the
    NEWEST manifest answers the streaming replay check behind a
    maintenance-only tail, and horizon expiry never reopens the door to a
    replayed micro-batch."""
    from pysparkdb.sources import (
        commit_epoch, last_committed_epoch, snapshot_append, snapshot_compact,
        snapshot_gc, snapshot_read, snapshot_rewrite,
    )

    region = tables(spark, sf_dir)["region"]
    b0 = region.filter(F.col("r_regionkey") < 2)
    b1 = region.filter(F.col("r_regionkey") >= 2)
    assert commit_epoch(b0, root, epoch_id=0) == 1
    assert commit_epoch(b1, root, epoch_id=1) == 2
    snapshot_compact(spark, root)                                        # v3
    snapshot_append(b0, root)                                            # v4
    snapshot_rewrite(spark, root, region)                                # v5
    for v in (3, 4, 5):
        m = _snap_manifest(root, v)
        assert m.get("epoch") is None and m["last_epoch"] == 1, v
    assert last_committed_epoch(root) == 1
    assert commit_epoch(b1, root, epoch_id=1) is None
    snapshot_gc(root, orphan_grace_s=0, retain_versions=1)
    assert last_committed_epoch(root) == 1
    assert commit_epoch(b1, root, epoch_id=1) is None
    assert commit_epoch(b0, root, epoch_id=2) == 6
    assert snapshot_read(spark, root).count() == region.count() + b0.count()


class TestSnapshotVersioning:
    """Manifest-based time travel (sources/versioned.py): immutable data
    files + per-version file lists — the minimal core of a transaction
    log, for reproducible training snapshots."""

    def test_append_creates_versions_and_time_travel(self, spark, sf_dir, tmp_path):
        _check_time_travel(spark, sf_dir, str(tmp_path / "snap"))

    def test_racing_commits_of_one_version_keep_the_first(self, tmp_path):
        """Manifests publish create-only: a second commit of the same
        version raises ConcurrentAppendError and leaves the first manifest
        intact, with no temp manifest behind."""
        from pysparkdb.sources import ConcurrentAppendError
        from pysparkdb.sources.versioned import _EMPTY, _commit, _store

        root = str(tmp_path / "snap")
        store = _store(root)
        _commit(store, [], _EMPTY, ["data/a.parquet"], 3, None, None, "a")
        with pytest.raises(ConcurrentAppendError, match="concurrently"):
            _commit(store, [], _EMPTY, ["data/b.parquet"], 5, None, None, "b")
        m = _snap_manifest(root, 1)
        assert (m["files"], m["n_rows"]) == (["data/a.parquet"], 3)
        mdir = os.path.join(root, "_manifests")
        assert os.listdir(mdir) == ["v1.json"], "tmp manifest left behind"

    def test_append_racing_another_append_raises(
            self, spark, sf_dir, tmp_path, monkeypatch):
        _check_racing_append(spark, sf_dir, str(tmp_path / "snap"), monkeypatch)

    def test_append_retries_reland_and_exhaust(
            self, spark, sf_dir, tmp_path, monkeypatch):
        _check_retries_reland(spark, sf_dir, str(tmp_path / "a"), monkeypatch)
        _check_retries_exhausted(spark, sf_dir, str(tmp_path / "b"), monkeypatch)

    def test_epoch_propagation_across_maintenance(self, spark, sf_dir, tmp_path):
        _check_epoch_propagation(spark, sf_dir, str(tmp_path / "snap"))

    def test_snapshot_gc_age_horizon(self, spark, sf_dir, tmp_path):
        import time as _t

        root = str(tmp_path / "snap")

        def age_v1():
            old = _t.time() - 7200
            os.utime(os.path.join(root, "_manifests", "v1.json"), (old, old))

        _check_gc_age_horizon(spark, sf_dir, root, age_v1)

    def test_snapshot_tags_pin_and_survive_gc(self, spark, sf_dir, tmp_path):
        _check_tags(spark, sf_dir, str(tmp_path / "snap"), "region_train")

    def test_snapshot_tag_publish_without_hardlink_support(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """ADVICE r14: create-only tag publish relies on os.link raising
        FileExistsError, but filesystems without hard-link support (some
        NFS/overlay/FAT mounts) raise OSError(EPERM/ENOTSUP) instead. The
        fallback open(path, 'x') must publish with the same create-only
        atomicity: first publish succeeds, a second refuses with the
        already-exists message, replace=True still moves the tag."""
        import os as _os

        from pysparkdb.sources.versioned import (
            snapshot_append, snapshot_tag, snapshot_tags,
        )

        root = str(tmp_path / "snap")
        region = tables(spark, sf_dir)["region"]
        snapshot_append(region, root)                                  # v1
        snapshot_append(region, root)                                  # v2

        import errno

        def no_link(src, dst, **kw):
            raise OSError(errno.EPERM, "Operation not permitted")

        monkeypatch.setattr(_os, "link", no_link)
        assert snapshot_tag(root, "train", 1) == 1
        assert snapshot_tags(root) == {"train": 1}
        with pytest.raises(ValueError, match="already exists"):
            snapshot_tag(root, "train", 2)
        assert snapshot_tags(root) == {"train": 1}  # refused publish left v1
        assert snapshot_tag(root, "train", 2, replace=True) == 2
        assert snapshot_tags(root) == {"train": 2}
        # no tmp litter from either path
        refs = _os.listdir(_os.path.join(root, "_refs"))
        assert all(".tmp-" not in f for f in refs)

    def test_tag_created_during_gc_survives_local(
            self, spark, sf_dir, tmp_path):
        _check_tag_during_gc(spark, sf_dir, str(tmp_path / "snapgcrace"))

    def test_local_snapshot_views_route_through_segment_cache(
            self, spark, sf_dir, tmp_path):
        """The mode axis applies to local attach_snapshot pins (VERDICT
        r13 #4): a manifest-pinned view routes through the
        SegmentCacheManager in caching/hybrid modes exactly as its remote
        twin does — view-name attribution, plan-stat sizing, four-mode
        identity, hit-ratio contract."""
        from pysparkdb.engine import Engine
        from pysparkdb.sources.versioned import snapshot_append

        root = str(tmp_path / "snapcache")
        nation = tables(spark, sf_dir)["nation"]
        snapshot_append(nation, root)                                 # v1
        snapshot_append(nation.limit(0), root)                        # v2
        eng = Engine(spark)
        try:
            eng.attach_snapshot("nation_pin", root, version=1)
            q = ("SELECT n_regionkey, COUNT(*) AS n FROM nation_pin "
                 "GROUP BY n_regionkey ORDER BY n_regionkey")
            base = eng.sql(q).collect()
            for mode in ("pullup", "pushdown", "caching", "hybrid"):
                assert eng.sql(q, mode=mode).collect() == base, mode
            cm = eng._segment_cache
            assert cm is not None and cm.entries, "working set admitted"
            (key, cols), = [k for k in cm.entries]
            assert key == f"nation_pin@{root}@v1"
            assert cols == ("n_regionkey",)
            hits0 = cm.hit_count
            assert eng.sql(q, mode="caching").collect() == base
            assert cm.hit_count > hits0, "repeat served from the segment"
            # a broader working set on the SAME pin still answers right
            q2 = ("SELECT n_regionkey, COUNT(DISTINCT n_name) AS n "
                  "FROM nation_pin GROUP BY n_regionkey "
                  "ORDER BY n_regionkey")
            want = [tuple(r) for r in eng.sql(q2, mode="pushdown").collect()]
            got = [tuple(r) for r in eng.sql(q2, mode="hybrid").collect()]
            assert got == want
        finally:
            eng.clear_segment_cache()
            eng.set_mode("pushdown")
            spark.catalog.dropTempView("nation_pin")

    def test_rewrite_to_empty_reads_back_local(self, spark, sf_dir, tmp_path):
        from pysparkdb.engine import Engine

        try:
            _check_rewrite_to_empty(spark, sf_dir, str(tmp_path / "snap"),
                                    Engine(spark), "region_erased_local")
        finally:
            spark.catalog.dropTempView("region_erased_local")

    def test_repin_releases_the_old_versions_segments(
            self, spark, sf_dir, tmp_path):
        """Re-pinning a name at a new version releases the segments cached
        under the old origin: none of them remains, the cache's byte count
        is the sum of its live entries, and hybrid rows equal pushdown."""
        from pysparkdb.engine import Engine
        from pysparkdb.sources.versioned import snapshot_append

        root = str(tmp_path / "snap")
        nation = tables(spark, sf_dir)["nation"]
        snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)  # v1
        snapshot_append(nation.filter(F.col("n_nationkey") >= 10), root)  # v2
        eng = Engine(spark).set_mode("hybrid")
        q = ("SELECT n_regionkey, COUNT(*) AS n FROM nation_repin "
             "GROUP BY n_regionkey ORDER BY n_regionkey")
        try:
            eng.attach_snapshot("nation_repin", root, version=1)
            eng.sql(q).collect()
            cm = eng._segment_cache
            old = f"nation_repin@{root}@v1"
            assert any(t == old for t, _ in cm.entries), "v1 segment cached"
            eng.attach_snapshot("nation_repin", root, version=2, replace=True)
            assert not any(t == old for t, _ in cm.entries)
            assert cm.used == sum(e.size_bytes for e in cm.entries.values())
            got = eng.sql(q).collect()
            assert got == eng.sql(q, mode="pushdown").collect()
            assert sum(r.n for r in got) == nation.count()
        finally:
            eng.clear_segment_cache()
            eng.set_mode("pushdown")
            spark.catalog.dropTempView("nation_repin")

    def test_compaction_preserves_history(self, spark, sf_dir, tmp_path):
        from pysparkdb.sources.versioned import snapshot_read

        root = str(tmp_path / "snap")
        _check_compaction_history(spark, sf_dir, root)
        # locally the plan reads exactly the manifest's files
        assert len(snapshot_read(spark, root, 3).inputFiles()) == 1
        assert len(snapshot_read(spark, root, 2).inputFiles()) >= 8

    def test_read_rejects_unknown_version(self, spark, sf_dir, tmp_path):
        import pytest as _pytest

        from pysparkdb.sources.versioned import snapshot_append, snapshot_read

        root = str(tmp_path / "snap")
        with _pytest.raises(ValueError, match="no snapshot versions"):
            snapshot_read(spark, root)
        snapshot_append(tables(spark, sf_dir)["region"], root)
        with _pytest.raises(ValueError, match="not in"):
            snapshot_read(spark, root, 7)

    def test_range_partitioned_export_is_globally_ordered(self, spark, sf_dir, tmp_path):
        """write_range_partitioned: output files hold disjoint sorted key
        ranges — [min,max] intervals of distinct files never overlap
        (footer stats only, no data read), and concatenating files in
        range order reproduces the global sort."""
        import glob

        from pysparkdb.catalog import zone_map
        from pysparkdb.sources.layout import write_range_partitioned

        orders = tables(spark, sf_dir)["orders"]
        out = str(tmp_path / "ranged")
        write_range_partitioned(orders, out, ["o_totalprice"], num_files=8)

        spans = []
        for f in glob.glob(out + "/*.parquet"):
            zm = zone_map(f)
            stats = [g["columns"]["o_totalprice"] for g in zm]
            spans.append((min(s["min"] for s in stats), max(s["max"] for s in stats)))
        spans.sort()
        assert len(spans) > 1
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi <= lo, f"file ranges overlap: {spans}"
        # round-trip preserves rows
        assert spark.read.parquet(out).count() == orders.count()

    def test_snapshot_rewrite_is_the_delete_path(self, spark, sf_dir, tmp_path):
        _check_rewrite(spark, sf_dir, str(tmp_path / "snap"))

    def test_snapshot_gc_orphans_and_retention(self, spark, sf_dir, tmp_path):
        _check_gc_orphans_and_retention(spark, sf_dir, str(tmp_path / "snap"))

    def test_snapshot_diff_cdc_between_versions(self, spark, sf_dir, tmp_path):
        _check_diff(spark, sf_dir, str(tmp_path / "snap"))

    def test_snapshot_diff_detect_updates(self, spark, sf_dir, tmp_path):
        """A rewrite that CHANGES a payload under a stable key is invisible
        to the default membership diff but surfaces as _change='update'
        (carrying the to-version payload) under detect_updates=True; pure
        membership changes keep their insert/delete tags either way."""
        from pyspark.sql import functions as F

        from pysparkdb.sources.versioned import (
            snapshot_append, snapshot_diff, snapshot_read, snapshot_rewrite,
        )

        nation = tables(spark, sf_dir)["nation"]
        root = str(tmp_path / "snap")
        snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)  # v1
        # v2: drop key 0, rescore key 1's name, keep 2-9 byte-identical
        v2 = (
            snapshot_read(spark, root, 1)
            .filter(F.col("n_nationkey") > 0)
            .withColumn(
                "n_name",
                F.when(F.col("n_nationkey") == 1, F.lit("SCRUBBED"))
                .otherwise(F.col("n_name")),
            )
        )
        snapshot_rewrite(spark, root, v2)

        # default: the in-place update is (documented) invisible
        base = snapshot_diff(spark, root, 1, 2, ["n_nationkey"])
        assert {(r.n_nationkey, r._change) for r in base.collect()} == {
            (0, "delete")
        }
        # detect_updates: same delete, plus the update row with v2 payload
        upd = snapshot_diff(
            spark, root, 1, 2, ["n_nationkey"], detect_updates=True
        )
        rows = {(r.n_nationkey, r._change) for r in upd.collect()}
        assert rows == {(0, "delete"), (1, "update")}
        assert (
            upd.filter(F.col("_change") == "update")
            .select("n_name").collect()[0][0] == "SCRUBBED"
        )

    def test_stray_manifest_files_are_ignored(self, spark, sf_dir, tmp_path):
        """Editor artifacts / tmp files in _manifests/ must not brick the
        root: only names matching v<digits>.json parse as versions."""
        import os

        from pysparkdb.sources.versioned import (
            snapshot_append, snapshot_read, snapshot_versions,
        )

        root = str(tmp_path / "snap")
        snapshot_append(tables(spark, sf_dir)["region"], root)
        mdir = os.path.join(root, "_manifests")
        for stray in ("vX.json", "v1.json.swp", "v2.json~", ".DS_Store"):
            with open(os.path.join(mdir, stray), "w") as f:
                f.write("not a manifest")
        assert snapshot_versions(root) == [1]
        assert snapshot_read(spark, root).count() == 5

    def test_schema_evolution_add_column(self, spark, sf_dir, tmp_path):
        """Appending a frame with a NEW column evolves the manifest schema
        (Delta log-recorded-schema semantics): the latest read declares the
        merged schema, so v1-era files serve NULL for the later column —
        never a sampled-footer coin flip — while time travel to v1 keeps
        its original narrower shape."""
        from pyspark.sql import functions as F

        from pysparkdb.sources.versioned import (
            snapshot_append, snapshot_read, snapshot_schema,
        )

        nation = tables(spark, sf_dir)["nation"].select("n_nationkey", "n_name")
        root = str(tmp_path / "snap")
        snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)  # v1
        snapshot_append(  # v2 adds `score`
            nation.filter(F.col("n_nationkey") >= 10).withColumn(
                "score", F.col("n_nationkey").cast("double") * 0.5
            ),
            root,
        )
        assert snapshot_schema(root, 1).fieldNames() == ["n_nationkey", "n_name"]
        assert snapshot_schema(root, 2).fieldNames() == [
            "n_nationkey", "n_name", "score",
        ]
        cur = snapshot_read(spark, root)
        assert cur.columns == ["n_nationkey", "n_name", "score"]
        rows = {r.n_nationkey: r.score for r in cur.collect()}
        assert len(rows) == 25
        assert all(rows[k] is None for k in range(10))  # v1 era → NULL
        assert all(rows[k] == k * 0.5 for k in range(10, 25))
        # time travel keeps v1's narrower shape
        assert snapshot_read(spark, root, 1).columns == ["n_nationkey", "n_name"]

    def test_schema_evolution_omitted_and_conflicting_columns(
        self, spark, sf_dir, tmp_path
    ):
        _check_schema_evolution(spark, sf_dir, str(tmp_path / "snap"))

    def test_schema_evolution_diff_and_rewrite(self, spark, sf_dir, tmp_path):
        """snapshot_diff across an evolution: inserts carry the new column,
        deletes read NULL for it (allowMissingColumns union), and
        detect_updates treats a column added WITH non-null values as a
        payload change. A rewrite may then drop the column outright (full
        replacement owns its schema)."""
        from pyspark.sql import functions as F

        from pysparkdb.sources.versioned import (
            snapshot_append, snapshot_diff, snapshot_read, snapshot_rewrite,
            snapshot_schema,
        )

        nation = tables(spark, sf_dir)["nation"].select("n_nationkey", "n_name")
        root = str(tmp_path / "snap")
        snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)  # v1
        snapshot_append(  # v2 adds scored rows
            nation.filter(F.col("n_nationkey").between(10, 14)).withColumn(
                "score", F.lit(1.0)
            ),
            root,
        )
        d12 = snapshot_diff(spark, root, 1, 2, ["n_nationkey"])
        rows = {r.n_nationkey: (r._change, r.score) for r in d12.collect()}
        assert set(rows) == set(range(10, 15))
        assert all(v == ("insert", 1.0) for v in rows.values())

        # v3: rewrite rescoring EVERY row — updates must surface for v2→v3
        # keys whose score changed, and v1-era keys gain a score (NULL → 1.0
        # counts as a change too)
        v2 = snapshot_read(spark, root, 2)
        snapshot_rewrite(
            spark, root, v2.withColumn("score", F.lit(2.0))
        )
        d23 = snapshot_diff(
            spark, root, 2, 3, ["n_nationkey"], detect_updates=True
        )
        ch = {r.n_nationkey: r._change for r in d23.collect()}
        assert set(ch) == set(range(15))
        assert all(c == "update" for c in ch.values())

        # v4: rewrite DROPPING the column — full replacement owns its schema
        snapshot_rewrite(
            spark, root, snapshot_read(spark, root, 3).drop("score")
        )
        assert snapshot_schema(root, 4).fieldNames() == ["n_nationkey", "n_name"]
        assert snapshot_read(spark, root, 4).columns == ["n_nationkey", "n_name"]


def test_snapshot_compact_zorder_restores_pruning(spark, sf_dir, tmp_path):
    """OPTIMIZE-ZORDER composition: appends land unclustered; a zordered
    compaction must produce a new version whose row-group zone maps prune
    a range predicate on a participating column, while the pre-compaction
    version keeps reading its original (unclustered) files."""
    from pysparkdb.catalog import prunable_row_groups
    from pysparkdb.sources.versioned import (
        snapshot_append, snapshot_compact, snapshot_read,
    )

    root = str(tmp_path / "snap")
    orders = tables(spark, sf_dir)["orders"]
    half = orders.filter(F.col("o_orderkey") % 2 == 0)
    other = orders.filter(F.col("o_orderkey") % 2 == 1)
    v1 = snapshot_append(half.orderBy(F.rand(seed=7)), root)
    snapshot_append(other.orderBy(F.rand(seed=9)), root)
    v3 = snapshot_compact(
        spark, root, target_files=2,
        zorder_cols=["o_orderkey", "o_custkey"], row_group_bytes=64 * 1024,
    )
    assert snapshot_read(spark, root, v3).count() == orders.count()
    assert snapshot_read(spark, root, v1).count() == half.count()
    lo, hi = 1000, 2000
    kept = total = 0
    for f in snapshot_read(spark, root, v3).inputFiles():
        k, t = prunable_row_groups(f.replace("file:", ""), "o_orderkey", lo, hi)
        kept += k
        total += t
    assert total >= 8, f"need enough row groups to prove pruning, got {total}"
    assert kept <= total // 2, f"zone maps kept {kept}/{total} row groups"


def test_snapshot_append_ignores_orphan_batch_dirs(spark, sf_dir, tmp_path):
    """Crash recovery: a write that died before its manifest rename leaves
    an orphan data directory. Later appends must not collide with it, and
    no version may surface its files."""
    import os

    from pysparkdb.sources.versioned import snapshot_append, snapshot_read

    root = str(tmp_path / "snap")
    region = tables(spark, sf_dir)["region"]
    snapshot_append(region, root)
    # simulate the torn write: an unreferenced batch dir with a stray file
    orphan = os.path.join(root, "data", "batch-2-deadbeef")
    os.makedirs(orphan)
    region.limit(1).write.mode("overwrite").parquet(orphan)
    v2 = snapshot_append(region, root)
    assert v2 == 2
    assert snapshot_read(spark, root, 1).count() == region.count()
    assert snapshot_read(spark, root, 2).count() == 2 * region.count()
    files = snapshot_read(spark, root, 2).inputFiles()
    assert not any("deadbeef" in f for f in files)


def test_console_snapshot_commands(spark, sf_dir, tmp_path):
    """Console time-travel surface: \\versions lists committed snapshot
    versions and \\pin registers one as a queryable view (a subprocess
    drive of the same path lives in the session verify recipe; this test
    exercises the dispatch in-process)."""
    import subprocess
    import sys as _sys

    from pysparkdb.sources.versioned import snapshot_append, snapshot_rewrite

    root = str(tmp_path / "snap")
    region = tables(spark, sf_dir)["region"]
    snapshot_append(region.filter(F.col("r_regionkey") < 3), root)   # v1
    snapshot_append(region.filter(F.col("r_regionkey") >= 3), root)  # v2
    # a rewrite boundary scrubbing payloads under STABLE keys — invisible
    # to the membership feed, surfaced only by \diff's -u flag
    snapshot_rewrite(
        spark, root, region.withColumn("r_comment", F.lit("[scrubbed]")))  # v3
    out = subprocess.run(
        [_sys.executable, "scripts/console.py", "--data-dir", sf_dir,
         "-c", f"\\versions {root}",
         "-c", f"\\pin regions_v1 {root} 1",
         "-c", "SELECT COUNT(*) AS n FROM regions_v1",
         "-c", f"\\diff {root} 1 2 r_regionkey",
         "-c", f"\\diff {root} 2 3 r_regionkey -u",
         "-c", f"\\diff {root} 1 2 ,,",
         "-c", f"\\tag {root} trainv1 1",
         "-c", f"\\tags {root}",
         "-c", f"\\pin regions_tag {root} trainv1",
         "-c", "SELECT COUNT(*) AS n FROM regions_tag",
         "-c", f"\\gc {root} 1 0",
         "-c", f"\\versions {root}",
         # the age horizon through the console (--age, Delta
         # VACUUM-RETAIN shape): 0 s = everything retained-by-count is
         # still too old, yet the newest and the TAGGED v1 survive;
         # dry-run first (the review-step default posture)
         "-c", f"\\gc {root} --age 0 -n",
         "-c", f"\\gc {root} 3 0 --age 0",
         "-c", f"\\versions {root}"],
        capture_output=True, text=True,
        cwd=os.path.join(os.path.dirname(__file__), ".."), timeout=240,
    )
    assert out.returncode == 0, out.stderr[-800:]
    assert "[1, 2, 3]" in out.stdout
    assert "regions_v1: 3 rows" in out.stdout
    # the change feed: v2 appended the two high-key rows as inserts
    assert "_change" in out.stdout and "insert" in out.stdout
    # -u across the rewrite boundary: stable keys, scrubbed payload
    assert "update" in out.stdout and "[scrubbed]" in out.stdout
    # a degenerate key list dies at the usage line, not inside the join
    assert "usage: \\diff" in out.stderr
    assert "Traceback" not in out.stderr
    # the tag workflow: pin v1 under a name, resolve it through \pin
    assert "trainv1 -> v1" in out.stdout
    assert "{'trainv1': 1}" in out.stdout
    assert "regions_tag: 3 rows" in out.stdout
    # \gc with a horizon drops v2 but the TAGGED v1 is retention-pinned
    assert "expired" in out.stdout and "swept" in out.stdout
    assert "[1, 3]" in out.stdout
    # --age dry-run previews without deleting; the wet sweep age-expires
    # nothing protected: newest (v3) never age-drops, v1 is tag-pinned
    assert "would expire" in out.stdout
    assert out.stdout.rstrip().endswith("[1, 3]")

    # \pin must NOT clobber a registered catalog table: the console only
    # grants replace to names it pinned itself, so the engine's shadow
    # guard surfaces as an error (batch mode exits nonzero) and the
    # catalog view keeps answering
    out2 = subprocess.run(
        [_sys.executable, "scripts/console.py", "--data-dir", sf_dir,
         "-c", f"\\pin region {root} 1",
         "-c", "SELECT COUNT(*) AS n FROM region"],
        capture_output=True, text=True,
        cwd=os.path.join(os.path.dirname(__file__), ".."), timeout=240,
    )
    assert out2.returncode == 1
    assert "replace=True" in out2.stderr
    assert "region:" not in out2.stdout  # the pin never went through
    assert "5" in out2.stdout  # catalog region (5 rows), not the 3-row pin


def test_console_remote_snapshot_pin_and_stats(spark, sf_dir):
    """Console parity for OBJECT-STORE snapshots: \\versions and \\pin
    against an s3:// root (connection from the standard AWS_* env vars)
    register a pinned-version view the SQL surface queries, and \\stats
    profiles the pinned view from footers — the full remote
    reproducible-snapshot workflow through the interactive front door."""
    import subprocess
    import sys as _sys

    try:
        from moto.server import ThreadedMotoServer
    except ImportError:
        pytest.skip("moto not installed")
    import logging

    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    try:
        _, port = server.get_host_and_port()
        from pysparkdb.sources import S3Root, snapshot_append
        from pysparkdb.sources.arrow_s3 import S3Conf, _boto3_client

        conf = S3Conf(endpoint=f"http://127.0.0.1:{port}",
                      access_key="ak", secret_key="sk", region="us-east-1")
        _boto3_client(conf).create_bucket(Bucket="consolebkt")
        root = "s3://consolebkt/snap/region"
        region = tables(spark, sf_dir)["region"]
        snapshot_append(region, S3Root(root, conf))             # v1
        snapshot_append(region.limit(2), S3Root(root, conf))    # v2

        env = dict(os.environ,
                   AWS_ENDPOINT_URL=f"http://127.0.0.1:{port}",
                   AWS_ACCESS_KEY_ID="ak", AWS_SECRET_ACCESS_KEY="sk",
                   AWS_REGION="us-east-1")
        out = subprocess.run(
            [_sys.executable, "scripts/console.py", "--data-dir", sf_dir,
             "-c", f"\\versions {root}",
             "-c", f"\\pin region_v1 {root} 1",
             "-c", "SELECT COUNT(*) AS n FROM region_v1",
             "-c", "\\stats region_v1 r_regionkey",
             # \diff routes s3:// through the same manifest protocol; the
             # re-appended rows surface as inserts (new ROWS under the
             # documented keys-unique-per-snapshot assumption)
             "-c", f"\\diff {root} 1 2 r_regionkey",
             "-c", f"\\tag {root} trainv1 1",
             "-c", f"\\tags {root}",
             "-c", f"\\gc {root} 1 0"],
            capture_output=True, text=True, env=env,
            cwd=os.path.join(os.path.dirname(__file__), ".."), timeout=240,
        )
        assert out.returncode == 0, out.stderr[-800:]
        assert "[1, 2]" in out.stdout
        assert "region_v1: 5 rows" in out.stdout  # v1 pinned, not v2's 7
        assert "r_regionkey_min" in out.stdout
        assert "trainv1 -> v1" in out.stdout and "{'trainv1': 1}" in out.stdout
        assert "expired 0 object(s)" in out.stdout  # v2 lists v1's objects
        assert "_change" in out.stdout and "insert" in out.stdout
    finally:
        server.stop()


def test_json_malformed_rows_permissive_vs_failfast(spark, tmp_path):
    """Ingestion robustness: a landing file with malformed JSON lines.
    PERMISSIVE mode (the ingest default) quarantines bad lines into
    _corrupt_record instead of failing the job — the row-level
    quality-gate semantics a 100 TB ingest needs (one bad crawler record
    must not kill a shard); FAILFAST surfaces them as an error for
    strict pipelines."""
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    p = tmp_path / "landing.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "also ok"}\n'
        '{"doc_id": "NaN-ish", "text": 3}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    rows = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
        .collect()
    )
    good = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert {r.doc_id for r in good} == {1, 2}
    assert len(bad) == 2  # the non-JSON line and the type-mismatched one

    import pytest as _pytest

    strict = (
        spark.read.schema(
            T.StructType(schema.fields[:2])
        ).option("mode", "FAILFAST").json(str(p))
    )
    with _pytest.raises(Exception, match="FAILFAST|Malformed"):
        strict.collect()


def test_binaryfile_ingest_feeds_multimodal_pipeline(spark, tmp_path):
    """Multimodal ingestion from RAW FILES: spark.read.format('binaryFile')
    loads payload bytes + file metadata, which feeds the binary-column
    pipeline directly (image_ahash over the fake decode) — closing the
    loop from files-on-disk to perceptual dedup without a bespoke
    reader. Two identical payloads must collide on the hash; the
    distinct third must not."""
    from pysparkdb.pipeline import multimodal

    (tmp_path / "a.bin").write_bytes(b"PAYLOAD-ONE-" + bytes(range(64)))
    (tmp_path / "b.bin").write_bytes(b"PAYLOAD-ONE-" + bytes(range(64)))
    (tmp_path / "c.bin").write_bytes(b"ZZZZ-OTHER-" + bytes(reversed(range(64))))
    raw = (
        spark.read.format("binaryFile")
        .load(str(tmp_path))
        .select(
            F.abs(F.xxhash64("path")).alias("doc_id"),
            F.col("path"),
            F.col("content").alias("payload"),
        )
    )
    hashed = multimodal.image_ahash(raw, fake=True)  # emits (doc_id, ahash)
    joined = hashed.join(raw.select("doc_id", "path"), "doc_id").collect()
    by_hash = {}
    for r in joined:
        by_hash.setdefault(r.ahash, []).append(r.path)
    groups = sorted(len(v) for v in by_hash.values())
    assert groups == [1, 2], by_hash


class TestObjectStore:
    """The s3a:// conf surface (VERDICT r7 #4). What runs in-sandbox: conf
    construction, injection into a live session's Hadoop configuration,
    and the Hadoop FileSystem existence probe (driven through file:// —
    the same API object-store paths go through). What does NOT run here:
    an actual S3/MinIO GET (needs the hadoop-aws jars and an endpoint) —
    gated behind PYSPARKDB_S3_SMOKE=1, documented in README."""

    def test_s3a_conf_construction(self):
        from pysparkdb.sources import s3a_confs, s3a_session_confs

        # MinIO-shaped: path-style defaults on, ssl follows the scheme,
        # explicit keys select the simple provider
        c = s3a_confs(endpoint="http://minio:9000", access_key="ak",
                      secret_key="sk")
        assert c["fs.s3a.endpoint"] == "http://minio:9000"
        assert c["fs.s3a.path.style.access"] == "true"
        assert c["fs.s3a.connection.ssl.enabled"] == "false"
        assert c["fs.s3a.aws.credentials.provider"].endswith(
            "SimpleAWSCredentialsProvider")
        # public-bucket shape
        anon = s3a_confs(anonymous=True)
        assert anon["fs.s3a.aws.credentials.provider"].endswith(
            "AnonymousAWSCredentialsProvider")
        # session-build form carries the spark.hadoop. prefix
        sc = s3a_session_confs(endpoint="https://s3.example.com")
        assert sc["spark.hadoop.fs.s3a.endpoint"] == "https://s3.example.com"
        assert sc["spark.hadoop.fs.s3a.connection.ssl.enabled"] == "true"
        # explicit overrides win over endpoint-derived defaults
        c2 = s3a_confs(endpoint="http://minio:9000", path_style_access=False,
                       ssl_enabled=True)
        assert c2["fs.s3a.path.style.access"] == "false"
        assert c2["fs.s3a.connection.ssl.enabled"] == "true"
        # a SCHEME-LESS endpoint (the conventional Hadoop-docs form) must
        # NOT emit the SSL conf at all: the connector's secure default
        # (TLS on) governs — deriving "false" from the missing https://
        # prefix would silently downgrade AWS endpoints to plaintext
        c3 = s3a_confs(endpoint="s3.eu-west-1.amazonaws.com")
        assert "fs.s3a.connection.ssl.enabled" not in c3

    def test_hadoop_list_names_missing_dir_is_empty_without_probe(self, spark, tmp_path):
        """A missing directory resolves to an empty set from the LIST's own
        FileNotFoundException — no separate exists() pre-probe (one
        metadata RPC per discovery, the docstring's contract)."""
        from pysparkdb.sources.objectstore import hadoop_list_names

        assert hadoop_list_names(spark, str(tmp_path / "nope")) == set()
        (tmp_path / "real").mkdir()
        (tmp_path / "real" / "t.parquet").write_text("x")
        assert hadoop_list_names(spark, str(tmp_path / "real")) == {"t.parquet"}

    def test_configure_s3a_lands_in_hadoop_conf(self, spark):
        from pysparkdb.sources import configure_s3a

        configure_s3a(spark, endpoint="http://127.0.0.1:9000",
                      access_key="ak", secret_key="sk",
                      extra={"fs.s3a.impl.disable.cache": "true"})
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        assert hconf.get("fs.s3a.endpoint") == "http://127.0.0.1:9000"
        assert hconf.get("fs.s3a.path.style.access") == "true"
        assert hconf.get("fs.s3a.impl.disable.cache") == "true"

    def test_hadoop_path_exists_and_remote_detection(self, spark, sf_dir):
        from pysparkdb.sources import hadoop_path_exists, is_remote_path

        assert is_remote_path("s3a://bucket/prefix")
        assert is_remote_path("gs://bucket/x")
        assert not is_remote_path("/root/testdata/sf0.01")
        # the probe is the real Hadoop FileSystem API; file:// exercises
        # the identical code path a configured s3a:// URI takes
        assert hadoop_path_exists(spark, f"file://{sf_dir}/nation.parquet")
        assert not hadoop_path_exists(spark, f"file://{sf_dir}/nope.parquet")
        # plain local paths resolve through the default FS too
        assert hadoop_path_exists(spark, f"{sf_dir}/nation.parquet")

    @pytest.mark.skipif(
        os.environ.get("PYSPARKDB_S3_SMOKE") != "1",
        reason="live object-store smoke needs PYSPARKDB_S3_SMOKE=1 plus "
               "PYSPARKDB_S3_ENDPOINT/BUCKET/ACCESS_KEY/SECRET_KEY and the "
               "hadoop-aws jars on the session classpath",
    )
    def test_s3a_live_smoke(self, spark, sf_dir):
        """Round-trip against a real S3-compatible endpoint: write the
        nation table to s3a://$BUCKET/pysparkdb-smoke, attach a Catalog
        over the remote prefix, and read it back through the same
        declared-schema path local parquet uses."""
        from pysparkdb.catalog import Catalog
        from pysparkdb.sources import configure_s3a

        configure_s3a(
            spark,
            endpoint=os.environ["PYSPARKDB_S3_ENDPOINT"],
            access_key=os.environ["PYSPARKDB_S3_ACCESS_KEY"],
            secret_key=os.environ["PYSPARKDB_S3_SECRET_KEY"],
        )
        prefix = f"s3a://{os.environ['PYSPARKDB_S3_BUCKET']}/pysparkdb-smoke"
        nation = tables(spark, sf_dir)["nation"]
        nation.write.mode("overwrite").parquet(f"{prefix}/nation.parquet")
        cat = Catalog(spark, prefix).register_all(validate=False)
        assert cat.tables["nation"].count() == nation.count()


class TestArrowObjectStore:
    """The jar-less object-store path (sources/arrow_s3.py): pyarrow's
    bundled S3FileSystem issues GETs from executor tasks — the S3GetPOp
    execution shape (fpdb-executor/src/physical/s3/S3GetPOp.cpp:1-527) —
    against a LIVE in-process S3 endpoint (moto). Unlike the s3a smoke
    (blocked on the hadoop-aws jars this distribution doesn't ship),
    these tests execute real PUT/LIST/HEAD/GET round-trips in-sandbox."""

    @pytest.fixture(scope="class")
    def moto_s3(self):
        try:
            from moto.server import ThreadedMotoServer
        except ImportError:
            pytest.skip("moto not installed")
        import logging

        logging.getLogger("werkzeug").setLevel(logging.ERROR)
        server = ThreadedMotoServer(port=0, verbose=False)
        server.start()
        _, port = server.get_host_and_port()
        endpoint = f"http://127.0.0.1:{port}"
        from pysparkdb.sources.arrow_s3 import S3Conf, _boto3_client

        conf = S3Conf(endpoint=endpoint, access_key="ak", secret_key="sk",
                      region="us-east-1")
        _boto3_client(conf).create_bucket(Bucket="testbkt")
        yield conf
        server.stop()

    def test_one_filesystem_per_conf_per_process(self, moto_s3):
        """Equal confs share this process's S3FileSystem (a construction
        costs seconds where the AWS SDK probes for a region); another
        conf gets its own."""
        import dataclasses

        from pysparkdb.sources.arrow_s3 import S3Conf

        fs = moto_s3.filesystem()
        assert S3Conf(**dataclasses.asdict(moto_s3)).filesystem() is fs
        other = dataclasses.replace(moto_s3, anonymous=True)
        assert other.filesystem() is not fs

    def test_live_roundtrip_distributed(self, spark, sf_dir, moto_s3):
        """Write from 3 executor partitions (3 single-PUT objects), ONE
        list RPC discovers them, read back through mapInArrow GETs —
        row-for-row identical to the local table."""
        from pysparkdb.sources import (
            arrow_s3_list,
            arrow_s3_read_parquet,
            arrow_s3_write_parquet,
        )

        nation = tables(spark, sf_dir)["nation"]
        wrote = arrow_s3_write_parquet(
            nation.repartition(3), "s3://testbkt/rt/nation", moto_s3)
        assert wrote == nation.count()
        objs = arrow_s3_list(moto_s3, "s3://testbkt/rt/nation")
        assert len(objs) == 3 and all(size > 0 for _, size in objs)
        back = arrow_s3_read_parquet(spark, "s3://testbkt/rt/nation", moto_s3)
        assert sorted(map(tuple, back.collect())) == \
            sorted(map(tuple, nation.collect()))

    def test_column_pruning_and_exact_filters(self, spark, sf_dir, moto_s3):
        """columns prunes the decoded schema to exactly the request;
        DNF filters are EXACT (residual rows dropped during decode, no
        Spark-side re-filter) and match the local-plan answer."""
        from pysparkdb.sources import arrow_s3_read_parquet, arrow_s3_write_parquet

        supplier = tables(spark, sf_dir)["supplier"]
        arrow_s3_write_parquet(supplier, "s3://testbkt/pr/supplier", moto_s3)
        got = arrow_s3_read_parquet(
            spark, "s3://testbkt/pr/supplier", moto_s3,
            columns=["s_suppkey", "s_acctbal"],
            filters=[("s_acctbal", ">", 0.0), ("s_suppkey", "<=", 60)],
        )
        assert got.columns == ["s_suppkey", "s_acctbal"]
        want = (supplier.filter((F.col("s_acctbal") > 0.0)
                                & (F.col("s_suppkey") <= 60))
                .select("s_suppkey", "s_acctbal"))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))
        assert 0 < got.count() < supplier.count()  # non-vacuous filter

    def test_row_group_stats_skip(self, spark, moto_s3):
        """Row-group skipping mechanism: a 5-row-group object with
        disjoint sorted ranges; footer min/max statistics alone select
        1/5 row groups for a point-range filter (split_by_row_group is
        the exact pre-GET pruning the dataset scanner applies), and the
        scan result through arrow_s3_read_parquet is exact."""
        import pyarrow as pa
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        from pysparkdb.sources import arrow_s3_read_parquet
        from pysparkdb.sources.arrow_s3 import _boto3_client

        buf = pa.BufferOutputStream()
        writer = pq.ParquetWriter(buf, pa.schema([("x", pa.int64())]))
        for g in range(5):
            writer.write_table(
                pa.table({"x": list(range(g * 1000, (g + 1) * 1000))}))
        writer.close()
        _boto3_client(moto_s3).put_object(
            Bucket="testbkt", Key="rg/t.parquet",
            Body=buf.getvalue().to_pybytes())

        fs = moto_s3.filesystem()
        frag = pads.ParquetFileFormat().make_fragment(
            "testbkt/rg/t.parquet", fs)
        assert frag.num_row_groups == 5
        surviving = list(frag.split_by_row_group(
            pads.field("x") >= 4200, frag.physical_schema))
        assert len(surviving) == 1  # 4/5 row groups never fetched

        got = arrow_s3_read_parquet(
            spark, "s3://testbkt/rg/t.parquet", moto_s3,
            filters=[("x", ">=", 4200)])
        assert got.count() == 800
        assert got.agg(F.min("x")).collect()[0][0] == 4200

    def test_split_row_groups_tasks(self, spark, moto_s3):
        """split_row_groups=True makes one task per row group — the
        ranged-GET split for single-giant-object corpora — with
        identical results."""
        from pysparkdb.sources import arrow_s3_read_parquet

        got = arrow_s3_read_parquet(
            spark, "s3://testbkt/rg/t.parquet", moto_s3,
            split_row_groups=True)
        assert got.count() == 5000
        assert got.rdd.getNumPartitions() == 5

    def test_missing_prefix_and_declared_schema(self, spark, moto_s3):
        from pyspark.sql.types import LongType, StructField, StructType

        from pysparkdb.sources import arrow_s3_read_parquet

        with pytest.raises(FileNotFoundError):
            arrow_s3_read_parquet(spark, "s3://testbkt/nope", moto_s3)
        declared = StructType([StructField("x", LongType())])
        got = arrow_s3_read_parquet(
            spark, "s3://testbkt/rg/t.parquet", moto_s3, schema=declared)
        assert got.schema == declared and got.count() == 5000
        with pytest.raises(ValueError, match="must equal columns"):
            arrow_s3_read_parquet(
                spark, "s3://testbkt/rg/t.parquet", moto_s3,
                schema=declared, columns=["y"])

    def test_csv_declared_schema_with_compression(self, spark, moto_s3):
        """CSV GET + Arrow parse with the declared schema — plain AND
        gzip objects under one prefix, transparently decompressed by
        extension; values typed per declaration, not inferred."""
        import gzip

        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )

        from pysparkdb.sources import arrow_s3_read_csv
        from pysparkdb.sources.arrow_s3 import _boto3_client

        client = _boto3_client(moto_s3)
        body = "id,name,score\n1,alpha,1.5\n2,beta,2.5\n"
        client.put_object(Bucket="testbkt", Key="csv/a.csv",
                          Body=body.encode())
        body2 = "id,name,score\n3,gamma,3.5\n"
        client.put_object(Bucket="testbkt", Key="csv/b.csv.gz",
                          Body=gzip.compress(body2.encode()))
        schema = StructType([
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ])
        got = arrow_s3_read_csv(
            spark, "s3://testbkt/csv", moto_s3, schema=schema)
        assert got.schema == schema
        rows = sorted(map(tuple, got.collect()))
        assert rows == [(1, "alpha", 1.5), (2, "beta", 2.5), (3, "gamma", 3.5)]

    def test_attach_arrow_s3_runs_registered_sql(self, spark, sf_dir, moto_s3):
        """The full front door: write the TPC-H working set to the object
        store from executors, attach the prefix JAR-LESSLY as the
        engine's catalog, and run a REGISTERED query's SQL against the
        remote views — identical rows to the same SQL over local
        parquet. This is the 'switch the reference's S3 deployment to
        this engine' path with zero extra jars."""
        from pysparkdb import Engine
        from pysparkdb.queries import load_all
        from pysparkdb.sources import arrow_s3_write_parquet

        local = {}
        for t in ("lineitem", "orders", "customer"):
            df = tables(spark, sf_dir)[t]
            arrow_s3_write_parquet(
                df, f"s3://testbkt/tpch/{t}.parquet", moto_s3)
            local[t] = df
        eng = Engine(spark)
        try:
            # replace=True: shadowing the session's local views is this
            # test's POINT, and the finally below restores them even on
            # failure (a bare attach refuses the collision by design)
            views = eng.attach_arrow_s3(
                "s3://testbkt/tpch", moto_s3, replace=True)
            assert set(views) >= {"lineitem", "orders", "customer"}
            sql = load_all()["q3"].oracle
            got = sorted(map(tuple, eng.sql(sql).collect()))
        finally:
            for t, df in local.items():
                df.createOrReplaceTempView(t)  # restore local views
        want = sorted(map(tuple, eng.sql(sql).collect()))
        assert got == want and got

    def test_dnf_filter_null_semantics_property(self, spark, moto_s3):
        """Property: arrow_s3's DNF filters agree with SQL comparison
        semantics on data WITH NULLs — a NULL in any conjunct's column
        drops the row (three-valued logic), for every operator, matching
        what the Spark plan above the scan would have done. One staged
        object, hypothesis varies the filters (reads are cheap)."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pysparkdb.sources import arrow_s3_read_parquet
        from pysparkdb.sources.arrow_s3 import _boto3_client

        rows = [
            (i,
             None if i % 5 == 0 else (i * 7) % 11,
             None if i % 7 == 0 else f"s{(i * 3) % 6}")
            for i in range(60)
        ]
        buf = pa.BufferOutputStream()
        pq.write_table(
            pa.table({"id": [r[0] for r in rows],
                      "a": pa.array([r[1] for r in rows], pa.int64()),
                      "s": [r[2] for r in rows]}),
            buf)
        _boto3_client(moto_s3).put_object(
            Bucket="testbkt", Key="prop/t.parquet",
            Body=buf.getvalue().to_pybytes())

        import operator as _op

        PY_OPS = {"==": _op.eq, "!=": _op.ne, "<": _op.lt,
                  "<=": _op.le, ">": _op.gt, ">=": _op.ge}

        def expected(filters):
            out = []
            for r in rows:
                vals = {"id": r[0], "a": r[1], "s": r[2]}
                ok = True
                for col, op, lit in filters:
                    v = vals[col]
                    if v is None or not PY_OPS[op](v, lit):
                        ok = False
                        break
                if ok:
                    out.append(r[0])
            return sorted(out)

        conj = st.one_of(
            st.tuples(st.just("a"),
                      st.sampled_from(("==", "!=", "<", "<=", ">", ">=")),
                      st.integers(min_value=-1, max_value=11)),
            st.tuples(st.just("s"),
                      st.sampled_from(("==", "!=", "<", ">=")),
                      st.sampled_from(("s0", "s3", "s5", "zz"))),
        )

        @given(filters=st.lists(conj, min_size=1, max_size=3))
        @settings(max_examples=8, deadline=None,
                  suppress_health_check=list(HealthCheck))
        def check(filters):
            got = arrow_s3_read_parquet(
                spark, "s3://testbkt/prop/t.parquet", moto_s3,
                columns=["id"], filters=[tuple(f) for f in filters])
            assert sorted(r.id for r in got.collect()) == expected(filters)

        check()

    def test_snapshot_time_travel_on_object_store(self, spark, sf_dir, moto_s3):
        from pysparkdb.sources import S3Root

        _check_time_travel(spark, sf_dir, S3Root("s3://testbkt/snap/nation", moto_s3))

    def test_snapshot_diff_on_object_store(self, spark, sf_dir, moto_s3):
        from pysparkdb.sources import S3Root

        _check_diff(spark, sf_dir, S3Root("s3://testbkt/snapdiff/nation", moto_s3))

    def test_snapshot_rewrite_on_object_store(self, spark, sf_dir, moto_s3):
        from pysparkdb.sources import S3Root

        _check_rewrite(spark, sf_dir, S3Root("s3://testbkt/snaprw/nation", moto_s3))

    def test_snapshot_stream_sink_on_object_store(
            self, spark, sf_dir, moto_s3, tmp_path):
        from pysparkdb.sources import S3Root

        _check_stream_sink(spark, sf_dir,
                           S3Root("s3://testbkt/snapstream/docs", moto_s3), tmp_path)

    def test_engine_attach_arrow_s3_snapshot_pins_version(
            self, spark, sf_dir, moto_s3):
        """The engine front door for object-store snapshots: attach at
        version N registers a pinned temp view that engine.sql queries,
        equal to snapshot_read(version=N) even AFTER later appends; the
        pinned view is profileable via arrow_s3_table_stats (the manifest
        named every object — no LIST); shadowing an existing view refuses
        without replace=True."""
        from pysparkdb import Engine
        from pysparkdb.sources import S3Root, snapshot_append, snapshot_read

        root = S3Root("s3://testbkt/engsnap/nation", moto_s3)
        nation = tables(spark, sf_dir)["nation"]
        snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)   # v1
        snapshot_append(nation.filter(F.col("n_nationkey") >= 10), root)  # v2

        eng = Engine(spark)
        try:
            eng.attach_snapshot("nation_v1", root, version=1)
            # a later append must NOT leak into the pinned view
            snapshot_append(nation.limit(2), root)                        # v3
            got = eng.sql(
                "SELECT COUNT(*) AS n, MAX(n_nationkey) AS mx "
                "FROM nation_v1").collect()[0]
            want_df = snapshot_read(spark, root, 1)
            assert got.n == want_df.count() == 10
            assert got.mx == 9
            assert sorted(map(tuple, spark.table("nation_v1").collect())) \
                == sorted(map(tuple, want_df.collect()))

            st = eng.arrow_s3_table_stats(
                "nation_v1", columns=["n_nationkey"]).collect()[0]
            assert st.rows == 10
            assert st.n_nationkey_min == 0 and st.n_nationkey_max == 9

            with pytest.raises(ValueError, match="replace=True"):
                eng.attach_snapshot("nation_v1", root)
            eng.attach_snapshot("nation_v1", root, replace=True)  # latest = v3
            assert spark.table("nation_v1").count() == nation.count() + 2
        finally:
            spark.catalog.dropTempView("nation_v1")

    def test_snapshot_gc_orphans_respect_grace(self, spark, sf_dir, moto_s3):
        from pysparkdb.sources import S3Root

        _check_gc_orphans_and_retention(
            spark, sf_dir, S3Root("s3://testbkt/gc/nation", moto_s3))

    def test_snapshot_gc_version_horizon_expiry(self, spark, sf_dir, moto_s3):
        """retain_versions completes the remote right-to-erasure story:
        a rewrite erases rows from the new version onward, but the
        pre-rewrite manifests keep the erased bytes readable and GC-immune
        — horizon expiry drops those manifests and deletes the objects only
        they referenced, so the erased rows are unreadable at EVERY
        remaining version and their bytes are gone from the store.
        Retained readers are untouched; expiry needs no grace window
        (expired objects were referenced, not orphaned)."""
        from pysparkdb.sources import (
            S3Root, arrow_s3_list, snapshot_append, snapshot_gc, snapshot_read,
            snapshot_rewrite, snapshot_versions,
        )

        root = S3Root("s3://testbkt/gchorizon/nation", moto_s3)
        nation = tables(spark, sf_dir)["nation"]
        snapshot_append(nation, root)                                     # v1
        snapshot_rewrite(spark, root, nation.filter(F.col("n_nationkey") < 10))  # v2
        snapshot_append(nation.filter(F.col("n_nationkey") < 3), root)    # v3
        v1_objects = set(_snap_manifest(root, 1)["files"])
        # pre-GC: the erased rows still time-travel (the gap expiry closes)
        assert snapshot_read(spark, root, 1).count() == nation.count()

        # dry run: the same report, nothing deleted — the review step
        # before committing to byte-level erasure
        preview = snapshot_gc(root, orphan_grace_s=3600, retain_versions=2,
                              dry_run=True)
        assert set(preview["expired"]) == v1_objects
        assert snapshot_versions(root) == [1, 2, 3]
        assert snapshot_read(spark, root, 1).count() == nation.count()

        out = snapshot_gc(root, orphan_grace_s=3600, retain_versions=2)
        assert out == preview, "the dry run previewed exactly this sweep"
        assert set(out["expired"]) == v1_objects and out["orphans"] == []
        assert snapshot_versions(root) == [2, 3]
        # time travel beyond the horizon is gone, by contract
        with pytest.raises(ValueError, match="version 1"):
            snapshot_read(spark, root, 1)
        # erased keys are unreadable at every remaining version...
        for v in (2, 3):
            keys = {r.n_nationkey for r in snapshot_read(spark, root, v).collect()}
            assert keys and max(keys) < 10
        # ...and their bytes are off the store (listed paths are
        # bucket-prefixed)
        remaining = {p for p, _ in arrow_s3_list(moto_s3, root.uri)}
        assert remaining  # non-vacuous: retained objects still listed
        assert not remaining & {
            f"testbkt/gchorizon/nation/{rel}" for rel in v1_objects}

    def test_snapshot_gc_expiry_preserves_retained_reads(
            self, spark, sf_dir, moto_s3):
        """GC's core invariant under a mixed append/compact/rewrite
        history: every RETAINED version reads bit-identical rows before
        and after horizon expiry + orphan sweep (retained manifests still
        list every object they need), while every dropped version's read
        raises."""
        from pysparkdb.sources import (
            S3Root, snapshot_append, snapshot_compact, snapshot_gc,
            snapshot_read, snapshot_rewrite, snapshot_versions,
        )

        root = S3Root("s3://testbkt/gcmix/nation", moto_s3)
        nation = tables(spark, sf_dir)["nation"]
        snapshot_append(nation.filter(F.col("n_nationkey") < 8), root)    # v1
        snapshot_append(
            nation.filter(F.col("n_nationkey").between(8, 15)), root)    # v2
        snapshot_compact(spark, root)                                     # v3
        snapshot_rewrite(spark, root, nation.filter(F.col("n_nationkey") < 5))  # v4
        snapshot_append(nation.filter(F.col("n_nationkey") == 20), root)  # v5
        before = {
            v: sorted(map(tuple, snapshot_read(spark, root, v).collect()))
            for v in snapshot_versions(root)
        }
        snapshot_gc(root, orphan_grace_s=0, retain_versions=2)
        assert snapshot_versions(root) == [4, 5]
        for v in (4, 5):
            after = sorted(map(tuple, snapshot_read(spark, root, v).collect()))
            assert after == before[v], f"retained v{v} changed under GC"
        for v in (1, 2, 3):
            with pytest.raises(ValueError):
                snapshot_read(spark, root, v)
        # idempotent: a second sweep finds nothing left to collect
        assert snapshot_gc(root, orphan_grace_s=0, retain_versions=2) == \
            {"orphans": [], "expired": []}

    def test_snapshot_tags_remote(self, spark, sf_dir, moto_s3):
        from pysparkdb.sources import S3Root

        _check_tags(spark, sf_dir, S3Root("s3://testbkt/tags/region", moto_s3),
                    "region_train_remote")

    def test_tag_created_during_gc_survives_remote(
            self, spark, sf_dir, moto_s3):
        from pysparkdb.sources import S3Root

        _check_tag_during_gc(spark, sf_dir,
                             S3Root("s3://testbkt/gcrace/region", moto_s3))

    def test_snapshot_gc_age_horizon_remote(self, spark, sf_dir, moto_s3):
        from pysparkdb.sources import S3Root

        _check_gc_age_horizon(spark, sf_dir,
                              S3Root("s3://testbkt/gcage/region", moto_s3))

    def test_snapshot_gc_expiry_spares_inflight_append(
            self, spark, sf_dir, moto_s3):
        """Expiry concurrent with an append must not delete the in-flight
        version's objects: an append PUTs its batch BEFORE the manifest
        commit, so at GC time the batch is unreferenced — orphan-class
        and grace-protected — while the parent it will reference is the
        newest version, which expiry always retains. The staged append
        then commits cleanly and reads back whole."""
        from pysparkdb.sources import (
            S3Root, arrow_s3_list, arrow_s3_write_parquet, snapshot_append,
            snapshot_compact, snapshot_gc, snapshot_read,
        )
        from pysparkdb.sources.versioned import _commit, _head

        root = S3Root("s3://testbkt/gcinflight/region", moto_s3)
        region = tables(spark, sf_dir)["region"]
        snapshot_append(region, root)                             # v1
        snapshot_compact(spark, root)                             # v2 (own files)
        # stage an in-flight append exactly as the writer does: data
        # objects on the store, manifest not yet committed
        arrow_s3_write_parquet(
            region.limit(2), f"{root.uri}/data/batch-inflight", moto_s3)
        staged = sorted(_snap_store(root).list("data/batch-inflight", True))
        assert staged and all(rel.startswith("data/") for rel in staged)

        out = snapshot_gc(root, orphan_grace_s=3600, retain_versions=1)
        assert out["expired"], "v1's superseded objects expire"
        # the young staged batch survives the sweep untouched
        assert not set(out["orphans"]) & set(staged)
        still = {p for p, _ in arrow_s3_list(moto_s3, root.uri)}
        assert {f"testbkt/gcinflight/region/{rel}" for rel in staged} <= still

        # the append's commit half lands against the retained parent
        versions, prev = _head(_snap_store(root))
        _commit(_snap_store(root), versions, prev, prev["files"] + staged,
                prev["n_rows"] + 2, None, prev["schema"], "batch-inflight")
        assert snapshot_read(spark, root).count() == region.count() + 2

    def test_epoch_propagation_across_maintenance(
            self, spark, sf_dir, moto_s3):
        from pysparkdb.sources import S3Root

        _check_epoch_propagation(
            spark, sf_dir, S3Root("s3://testbkt/epochprop/region", moto_s3))

    def test_manifest_bytes_recorded_and_attach_sized(
            self, spark, sf_dir, moto_s3):
        """Every commit records the version's total data bytes (free — the
        batch LIST already returned sizes), and the snapshot attach reads
        it so predicate-transfer sizing / cache admission never trust a
        mapInArrow plan's task-list stats for a remote corpus."""
        from pysparkdb.engine import Engine
        from pysparkdb.sources import (
            S3Root, arrow_s3_list, snapshot_append, snapshot_compact,
        )

        root = S3Root("s3://testbkt/mbytes/nation", moto_s3)
        nation = tables(spark, sf_dir)["nation"]
        snapshot_append(nation, root)                             # v1
        snapshot_append(nation.limit(5), root)                    # v2
        snapshot_compact(spark, root)                             # v3
        sized = {p[len("testbkt/mbytes/nation") + 1:]: sz
                 for p, sz in arrow_s3_list(moto_s3, root.uri)}
        for v in (1, 2, 3):
            m = _snap_manifest(root, v)
            assert m["bytes"] == sum(sized[f] for f in m["files"]) > 0, v
        eng = Engine(spark)
        try:
            eng.attach_snapshot("mbytes_nation", root)
            att = eng._arrow_s3_tables["mbytes_nation"]
            assert att.nbytes == _snap_manifest(root, 3)["bytes"]
        finally:
            spark.catalog.dropTempView("mbytes_nation")

    def test_attach_erased_empty_snapshot(self, spark, sf_dir, moto_s3):
        """The engine front door pins the erasure terminal state on the
        object store — queryable (the shared contract) and profilable:
        exact zero-row stats with zero GETs, in the SAME column shape as
        the footer profile of the table before the erasure."""
        from pysparkdb.engine import Engine
        from pysparkdb.sources import S3Root

        root = S3Root("s3://testbkt/erasedpin/nation", moto_s3)
        eng = Engine(spark)
        try:
            _check_rewrite_to_empty(spark, sf_dir, root, eng, "nation_erased")
            eng.attach_snapshot("nation_v1", root, version=1)
            pre = eng.arrow_s3_table_stats(
                "nation_v1", columns=["n_nationkey", "n_name"])
            st_df = eng.arrow_s3_table_stats(
                "nation_erased", columns=["n_nationkey", "n_name"])
            # min/max present (NULL) for eligible types, absent for string
            assert st_df.columns == pre.columns == [
                "rows", "n_nationkey_min", "n_nationkey_max",
                "n_nationkey_nulls", "n_name_nulls"]
            st = st_df.collect()[0]
            assert st.rows == 0 and st.n_nationkey_nulls == 0
            assert st.n_nationkey_min is None and st.n_nationkey_max is None
            assert st_df.schema["n_nationkey_min"].dataType == \
                pre.schema["n_nationkey_min"].dataType
            with pytest.raises(ValueError, match="not in parquet schema"):
                eng.arrow_s3_table_stats("nation_erased", columns=["nope"])
        finally:
            spark.catalog.dropTempView("nation_erased")
            spark.catalog.dropTempView("nation_v1")

    def test_remote_views_route_through_segment_cache(
            self, spark, sf_dir, moto_s3):
        """The mode axis applies to actual remote data (VERDICT r12 #4):
        attach_arrow_s3 views route through the SegmentCacheManager in
        caching/hybrid modes — the reference's hybrid economics (hot
        columns cached compute-side, cold pushed down:
        PrePToS3PTransformer.cpp:309-461) on the jar-less tier. Asserts
        the four-mode identity (mode never changes a result) and the
        hit-ratio contract (first working set admits, repeats serve from
        the InMemoryRelation), with admission sized by the attach's
        recorded bytes."""
        from pysparkdb.engine import Engine
        from pysparkdb.sources import arrow_s3_write_parquet

        t = tables(spark, sf_dir)
        for name in ("nation", "region"):
            arrow_s3_write_parquet(
                t[name], f"s3://testbkt/cacheroute/{name}_rc.parquet",
                moto_s3)
        eng = Engine(spark)
        try:
            eng.attach_arrow_s3("s3://testbkt/cacheroute", moto_s3)
            q = ("SELECT n_regionkey, COUNT(*) AS n FROM nation_rc "
                 "GROUP BY n_regionkey ORDER BY n_regionkey")
            base = eng.sql(q).collect()
            for mode in ("pullup", "pushdown", "caching", "hybrid"):
                assert eng.sql(q, mode=mode).collect() == base, mode
            cm = eng._segment_cache
            assert cm is not None and cm.entries, "working set admitted"
            (key, cols), = [k for k in cm.entries]
            assert key == "nation_rc@s3://testbkt/cacheroute/nation_rc"
            assert cols == ("n_regionkey",)
            # admission was sized from the attach's byte total, prorated
            att = eng._arrow_s3_tables["nation_rc"]
            assert cm.entries[(key, cols)].size_bytes == max(
                1, att.nbytes * 1 // len(att.df.columns))
            hits0 = cm.hit_count
            assert eng.sql(q, mode="caching").collect() == base
            assert cm.hit_count > hits0, "repeat served from the segment"
            # a broader working set on the SAME view still answers right
            q2 = ("SELECT n_regionkey, COUNT(DISTINCT n_name) AS n "
                  "FROM nation_rc GROUP BY n_regionkey ORDER BY n_regionkey")
            want = [tuple(r) for r in eng.sql(q2, mode="pushdown").collect()]
            got = [tuple(r) for r in eng.sql(q2, mode="hybrid").collect()]
            assert got == want
        finally:
            eng.clear_segment_cache()
            eng.set_mode("pushdown")
            for v in ("nation_rc", "region_rc"):
                spark.catalog.dropTempView(v)

    def test_predicate_transfer_over_remote_views(
            self, spark, sf_dir, moto_s3):
        """The CIDR-2024 pre-pass applies to remote-attached views
        (VERDICT r12 #5): a q5-shaped multi-hop selective join over
        attach_arrow_s3 views with predicate_transfer=True returns
        IDENTICAL rows with the semi-join reduction visible in the plan.
        Sizing comes from the attach's recorded bytes — a mapInArrow
        plan's own stats see only the task list, which would otherwise
        make a remote fact table look broadcast-small."""
        from pysparkdb.engine import Engine
        from pysparkdb.sources import arrow_s3_write_parquet

        t = tables(spark, sf_dir)
        for name in ("region", "nation", "customer"):
            arrow_s3_write_parquet(
                t[name], f"s3://testbkt/ptx/{name}_pt.parquet", moto_s3)
        eng = Engine(spark)
        try:
            eng.attach_arrow_s3("s3://testbkt/ptx", moto_s3)
            q = ("SELECT n.n_name, COUNT(*) AS n_cust "
                 "FROM region_pt r, nation_pt n, customer_pt c "
                 "WHERE r.r_regionkey = n.n_regionkey "
                 "AND n.n_nationkey = c.c_nationkey "
                 "AND r.r_name = 'ASIA' "
                 "GROUP BY n.n_name ORDER BY n.n_name")
            plain = [tuple(r) for r in eng.sql(q).collect()]
            red = eng.sql(q, predicate_transfer=True)
            assert [tuple(r) for r in red.collect()] == plain
            assert plain, "non-vacuous: the joined result has rows"
            expl = red._jdf.queryExecution().executedPlan().toString()
            assert "LeftSemi" in expl, "semi-join pre-pass in the plan"
            # sizing respected the attach bytes: every attached table got
            # a finite recorded size (so the broadcast cutoff is real)
            for v in ("region_pt", "nation_pt", "customer_pt"):
                assert eng._arrow_s3_tables[v].nbytes > 0
        finally:
            for v in ("region_pt", "nation_pt", "customer_pt"):
                spark.catalog.dropTempView(v)

    def test_nullable_bigint_roundtrip_exact(self, spark, moto_s3):
        """Arrow passthrough (mapInArrow, no pandas hop): a nullable
        BIGINT column with values above 2^53 must round-trip bit-exact —
        the pandas hop would convert int64-with-nulls to float64 and
        silently alter snowflake-scale ids."""
        from pysparkdb.sources import arrow_s3_read_parquet, arrow_s3_write_parquet

        big = 2**53 + 1  # not representable in float64
        rows = [(1, big), (2, None), (3, big + 2)]
        df = spark.createDataFrame(rows, "id long, ref long")
        wrote = arrow_s3_write_parquet(df, "s3://testbkt/nb/t", moto_s3)
        assert wrote == 3
        back = arrow_s3_read_parquet(spark, "s3://testbkt/nb/t", moto_s3)
        assert dict(back.dtypes)["ref"] == "bigint"
        assert sorted(map(tuple, back.collect())) == sorted(rows)

    def test_write_modes_guard_stale_part_files(self, spark, sf_dir, moto_s3):
        """mode='error' (default) refuses a populated prefix — a rewrite
        with fewer partitions would otherwise MERGE with stale part
        files; 'overwrite' replaces exactly; 'append' accumulates."""
        from pysparkdb.sources import arrow_s3_read_parquet, arrow_s3_write_parquet

        region = tables(spark, sf_dir)["region"]
        uri = "s3://testbkt/modes/region"
        arrow_s3_write_parquet(region.repartition(4), uri, moto_s3)
        with pytest.raises(FileExistsError, match="mode="):
            arrow_s3_write_parquet(region.repartition(2), uri, moto_s3)
        arrow_s3_write_parquet(
            region.repartition(2), uri, moto_s3, mode="overwrite")
        n = region.count()
        assert arrow_s3_read_parquet(spark, uri, moto_s3).count() == n
        arrow_s3_write_parquet(region, uri, moto_s3, mode="append")
        assert arrow_s3_read_parquet(spark, uri, moto_s3).count() == 2 * n

    def test_attach_rejects_mixed_layout_collision(self, spark, sf_dir, moto_s3):
        """A view name backed by two distinct physical layouts raises
        instead of silently unioning their files into one view — both
        the flat-vs-dir shape (region.parquet object next to
        region.parquet/ directory) and the dir-vs-dir shape (nation/
        next to nation.parquet/, which derive the SAME view name from
        DIFFERENT first segments)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pysparkdb import Engine
        from pysparkdb.sources import arrow_s3_write_parquet
        from pysparkdb.sources.arrow_s3 import _boto3_client

        arrow_s3_write_parquet(
            tables(spark, sf_dir)["region"],
            "s3://testbkt/mix/region.parquet", moto_s3)
        buf = pa.BufferOutputStream()
        pq.write_table(pa.table({"r_regionkey": [999]}), buf)
        _boto3_client(moto_s3).put_object(
            Bucket="testbkt", Key="mix/region.parquet",
            Body=buf.getvalue().to_pybytes())
        with pytest.raises(ValueError, match="two distinct layouts"):
            Engine(spark).attach_arrow_s3("s3://testbkt/mix", moto_s3)

        # dir-vs-dir: same derived name 'nation' from two directories
        nation = tables(spark, sf_dir)["nation"]
        arrow_s3_write_parquet(
            nation, "s3://testbkt/mix2/nation", moto_s3)
        arrow_s3_write_parquet(
            nation, "s3://testbkt/mix2/nation.parquet", moto_s3)
        with pytest.raises(ValueError, match="two distinct layouts"):
            Engine(spark).attach_arrow_s3("s3://testbkt/mix2", moto_s3)

    def test_snapshot_schema_guard_and_compaction(self, spark, sf_dir, moto_s3):
        """The local store's schema evolution and compaction history, on
        the object store."""
        from pysparkdb.sources import S3Root

        _check_schema_evolution(
            spark, sf_dir, S3Root("s3://testbkt/evolve/nation", moto_s3))
        _check_compaction_history(
            spark, sf_dir, S3Root("s3://testbkt/cmp/nation", moto_s3))

    def test_reattach_over_rewritten_objects_serves_fresh_rows(
            self, spark, moto_s3):
        """Re-attaching a prefix whose objects were rewritten keeps the
        view's origin (``prefix/name``) but releases the segments cached
        under it: hybrid mode then answers what pushdown answers instead
        of the rows cached before the rewrite."""
        from pysparkdb.engine import Engine
        from pysparkdb.sources import arrow_s3_write_parquet

        uri = "s3://testbkt/stale/stale_t"
        q = "SELECT SUM(v) AS s, COUNT(*) AS n FROM stale_t"
        eng = Engine(spark).set_mode("hybrid")
        try:
            arrow_s3_write_parquet(spark.range(10).select(F.col("id").alias("v")),
                                   uri, moto_s3)
            eng.attach_arrow_s3("s3://testbkt/stale", moto_s3)
            assert tuple(eng.sql(q).collect()[0]) == (45, 10)
            assert eng._segment_cache.entries, "the segment was cached"
            arrow_s3_write_parquet(
                spark.range(100).select((F.col("id") * 2).alias("v")),
                uri, moto_s3, mode="overwrite")
            eng.attach_arrow_s3("s3://testbkt/stale", moto_s3, replace=True)
            want = [tuple(r) for r in eng.sql(q, mode="pushdown").collect()]
            got = [tuple(r) for r in eng.sql(q, mode="hybrid").collect()]
            assert got == want == [(9900, 100)]
        finally:
            eng.clear_segment_cache()
            eng.set_mode("pushdown")
            spark.catalog.dropTempView("stale_t")

class TestArrowS3FooterStats:
    """arrow_s3_scan_stats: COUNT/MIN/MAX/null-count answered from
    parquet footer statistics with ZERO data-page GETs — the jar-less
    twin of the DSv2 footer-stats aggregate pushdown (op_agg_pushdown)
    and the reference's storage-side aggregate
    (fpdb-plan/src/prephysical/separable/SeparableTraits.cpp:13-36).
    The server fixture here COUNTS every GET's response bytes, so 'no
    data pages moved' is an assertion, not a claim."""

    @pytest.fixture(scope="class")
    def counting_s3(self):
        try:
            from moto.moto_server.threaded_moto_server import ThreadedMotoServer
            from moto.moto_server.werkzeug_app import (
                DomainDispatcherApplication,
                create_backend_app,
            )
        except ImportError:
            pytest.skip("moto not installed")
        import logging
        import threading

        from werkzeug.serving import make_server

        logging.getLogger("werkzeug").setLevel(logging.ERROR)

        class CountingMotoServer(ThreadedMotoServer):
            """ThreadedMotoServer whose WSGI app tallies GET traffic:
            (path, response-byte) pairs — ranged GETs count only the
            bytes the range actually returned."""

            def __init__(self):
                super().__init__(port=0, verbose=False)
                self.lock = threading.Lock()
                self.get_paths: list = []
                self.get_bytes = 0

            def reset(self):
                with self.lock:
                    self.get_paths.clear()
                    self.get_bytes = 0

            def _server_entry(self):
                inner = DomainDispatcherApplication(create_backend_app)
                outer = self._counting(inner)
                self._server = make_server(
                    self._ip_address, self._port, outer, True)
                self._server_ready_event.set()
                self._server.serve_forever()

            def _counting(self, app):
                srv = self

                def wsgi(environ, start_response):
                    chunks = app(environ, start_response)
                    if environ["REQUEST_METHOD"] != "GET":
                        return chunks
                    body = b"".join(chunks)
                    if hasattr(chunks, "close"):
                        chunks.close()
                    with srv.lock:
                        srv.get_paths.append(environ.get("PATH_INFO", ""))
                        srv.get_bytes += len(body)
                    return [body]

                return wsgi

        from pysparkdb.sources.arrow_s3 import S3Conf, _boto3_client

        server = CountingMotoServer()
        server.start()
        _, port = server.get_host_and_port()
        conf = S3Conf(endpoint=f"http://127.0.0.1:{port}",
                      access_key="ak", secret_key="sk", region="us-east-1")
        _boto3_client(conf).create_bucket(Bucket="statsbkt")
        yield server, conf
        server.stop()

    def test_stats_exact_with_zero_data_page_bytes(self, spark, counting_s3):
        """COUNT(*)/MIN/MAX/null-counts match a full scan of the same
        objects exactly, while total GET bytes stay a small fraction of
        the corpus — footers only, no data pages."""
        import pyarrow as pa

        from pysparkdb.sources import (
            arrow_s3_list,
            arrow_s3_scan_stats,
            arrow_s3_write_parquet,
        )

        server, conf = counting_s3
        # a fat INCOMPRESSIBLE payload column makes 'no data pages'
        # measurable: footer bytes are KBs regardless of payload width
        # (a constant payload would dictionary-encode to nothing)
        df = spark.range(0, 20000).selectExpr(
            "id",
            "CASE WHEN id % 7 = 0 THEN NULL "
            "ELSE CAST(id AS DOUBLE) * 1.5 END AS val",
            "concat(sha2(string(id), 256), sha2(string(id + 1), 256), "
            "sha2(string(id + 2), 256), sha2(string(id + 3), 256), "
            "sha2(string(id + 4), 256), sha2(string(id + 5), 256)) AS pay",
        )
        uri = "s3://statsbkt/stats/fat"
        arrow_s3_write_parquet(df.repartition(3), uri, conf)
        corpus_bytes = sum(sz for _, sz in arrow_s3_list(conf, "statsbkt/stats/fat"))
        assert corpus_bytes > 1_000_000  # the payload is real

        server.reset()
        # val is DOUBLE: min/max need the caller's NaN-free certificate
        got = arrow_s3_scan_stats(
            spark, uri, conf, columns=["id", "val"],
            assume_no_nan=True).collect()[0]
        stats_bytes = server.get_bytes
        assert got.rows == 20000
        assert got.id_min == 0 and got.id_max == 19999 and got.id_nulls == 0
        # id 0 and id 19999 are both % 7 == 0 → NULL, so the extremes
        # come from ids 1 and 19998
        assert got.val_min == 1.5 and got.val_max == 19998 * 1.5
        assert got.val_nulls == sum(1 for i in range(20000) if i % 7 == 0)
        # footers only: a fraction of the corpus, never the data pages
        assert stats_bytes < corpus_bytes * 0.2, \
            f"stats read {stats_bytes}B of a {corpus_bytes}B corpus"
        assert pa is not None  # keep the import local to the test intent

    def test_stats_partial_profile_mixed_numeric_string(
            self, spark, counting_s3):
        """Per-column stat selection: a mixed numeric/string schema —
        the text-corpus shape — returns the PARTIAL profile the footer
        can certify (rows + every column's null count + numeric min/max)
        with string min/max simply absent (parquet truncates or drops
        oversized binary stats while still flagging has_min_max), rather
        than the whole call refusing. Statistics-free files still refuse
        (the footer cannot certify even a null count)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pysparkdb.sources import arrow_s3_scan_stats, arrow_s3_write_parquet
        from pysparkdb.sources.arrow_s3 import _boto3_client

        server, conf = counting_s3
        df = spark.createDataFrame(
            [(1, "alpha"), (2, None), (3, "gamma")],
            "id long, name string")
        arrow_s3_write_parquet(df, "s3://statsbkt/stats/guard", conf)
        got = arrow_s3_scan_stats(
            spark, "s3://statsbkt/stats/guard", conf,
            columns=["id", "name"]).collect()[0]
        d = got.asDict()
        assert d["rows"] == 3
        assert d["id_min"] == 1 and d["id_max"] == 3 and d["id_nulls"] == 0
        assert d["name_nulls"] == 1
        assert "name_min" not in d and "name_max" not in d

        buf = pa.BufferOutputStream()
        pq.write_table(
            pa.table({"x": pa.array([1, 2, 3], pa.int64())}), buf,
            write_statistics=False)
        _boto3_client(conf).put_object(
            Bucket="statsbkt", Key="stats/nostats/t.parquet",
            Body=buf.getvalue().to_pybytes())
        with pytest.raises(Exception, match="lacks footer statistics"):
            arrow_s3_scan_stats(
                spark, "s3://statsbkt/stats/nostats", conf,
                columns=["x"]).collect()

    def test_stats_float_nan_divergence_refused_by_default(
            self, spark, counting_s3):
        """Parquet min/max EXCLUDE NaN while Spark's MAX orders NaN above
        every value — so float/double min/max are omitted unless the
        caller certifies NaN-freeness. On a NaN-containing column the
        default call returns rows+nulls only (never the silently-finite
        footer max); with assume_no_nan=True on a genuinely NaN-free
        column the footer values equal the engine's."""
        import math

        from pysparkdb.sources import arrow_s3_scan_stats, arrow_s3_write_parquet

        server, conf = counting_s3
        bad = spark.createDataFrame(
            [(1.0,), (float("nan"),), (2.5,)], "v double")
        arrow_s3_write_parquet(bad, "s3://statsbkt/stats/nan", conf)
        got = arrow_s3_scan_stats(
            spark, "s3://statsbkt/stats/nan", conf, columns=["v"]
        ).collect()[0].asDict()
        assert got["rows"] == 3 and got["v_nulls"] == 0
        assert "v_min" not in got and "v_max" not in got
        # the engine's own MAX over the same bytes is NaN — the value a
        # footer max (2.5) would have silently contradicted
        eng_max = bad.selectExpr("max(v) AS m").collect()[0].m
        assert math.isnan(eng_max)

        clean = spark.createDataFrame([(1.0,), (2.5,)], "v double")
        arrow_s3_write_parquet(clean, "s3://statsbkt/stats/nonan", conf)
        ok = arrow_s3_scan_stats(
            spark, "s3://statsbkt/stats/nonan", conf, columns=["v"],
            assume_no_nan=True).collect()[0]
        assert ok.v_min == 1.0 and ok.v_max == 2.5

    def test_stats_per_file_type_drift_refused(self, spark, counting_s3):
        """A later file storing the profiled column at a DIFFERENT type
        (here: ns-timestamp where the first file has us-timestamp) is
        caught in the executor tasks — pyarrow would surface the ns stat
        at microsecond precision, the exact silent loss the per-type
        selection exists to prevent."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pysparkdb.sources import arrow_s3_scan_stats
        from pysparkdb.sources.arrow_s3 import _boto3_client

        server, conf = counting_s3
        client = _boto3_client(conf)
        for key, unit in (("stats/drift/a.parquet", "us"),
                          ("stats/drift/b.parquet", "ns")):
            buf = pa.BufferOutputStream()
            pq.write_table(pa.table(
                {"t": pa.array([1, 2, 3], pa.timestamp(unit))}), buf)
            client.put_object(Bucket="statsbkt", Key=key,
                              Body=buf.getvalue().to_pybytes())
        with pytest.raises(Exception, match="mixed column types"):
            arrow_s3_scan_stats(
                spark, "s3://statsbkt/stats/drift", conf,
                columns=["t"]).collect()

    def test_stats_rows_only_and_all_null_column(self, spark, counting_s3):
        """columns=None answers bare COUNT(*); an all-null column yields
        NULL min/max with the full null count (no has_min_max demand on
        all-null row groups)."""
        from pysparkdb.sources import arrow_s3_scan_stats, arrow_s3_write_parquet

        server, conf = counting_s3
        df = spark.createDataFrame(
            [(i, None) for i in range(100)], "id long, gone double")
        arrow_s3_write_parquet(df, "s3://statsbkt/stats/nulls", conf)
        bare = arrow_s3_scan_stats(
            spark, "s3://statsbkt/stats/nulls", conf).collect()[0]
        assert bare.rows == 100 and len(bare.asDict()) == 1
        got = arrow_s3_scan_stats(
            spark, "s3://statsbkt/stats/nulls", conf,
            columns=["gone"], assume_no_nan=True).collect()[0]
        assert got.gone_min is None and got.gone_max is None
        assert got.gone_nulls == 100

    def test_split_row_groups_many_files_parallel_planning(
            self, spark, counting_s3):
        """The split_row_groups planner fans its footer GETs across a
        thread pool — 40 objects plan correctly and the split scan's
        rows match the plain scan's."""
        from pysparkdb.sources import arrow_s3_read_parquet, arrow_s3_write_parquet

        server, conf = counting_s3
        df = spark.range(0, 4000).selectExpr("id", "id * 2 AS dbl")
        arrow_s3_write_parquet(
            df.repartition(40), "s3://statsbkt/stats/many", conf)
        got = arrow_s3_read_parquet(
            spark, "s3://statsbkt/stats/many", conf, split_row_groups=True)
        assert got.count() == 4000
        assert got.rdd.getNumPartitions() == 40


    def test_stats_typed_columns_decimal_date_timestamp(
            self, spark, counting_s3):
        """Footer min/max keep their types across the non-binary type
        surface: DECIMAL(12,2), DATE, TIMESTAMP (microsecond) — and a
        nanosecond timestamp is refused (pyarrow surfaces its stat at
        microsecond precision)."""
        import datetime as dt
        from decimal import Decimal

        import pyarrow as pa
        import pyarrow.parquet as pq

        from pysparkdb.sources import arrow_s3_scan_stats, arrow_s3_write_parquet
        from pysparkdb.sources.arrow_s3 import _boto3_client

        server, conf = counting_s3
        df = spark.sql("""
            SELECT id,
                   CAST(id AS DECIMAL(12,2)) / 4 AS dec,
                   DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS d,
                   TIMESTAMP'2024-01-01 00:00:00' + make_interval(
                       0, 0, 0, 0, 0, 0, id) AS ts
            FROM range(200)
        """)
        uri = "s3://statsbkt/stats/typed"
        arrow_s3_write_parquet(df, uri, conf)
        got = arrow_s3_scan_stats(
            spark, uri, conf, columns=["dec", "d", "ts"]).collect()[0]
        assert got.rows == 200
        assert got.dec_min == Decimal("0.00")
        assert got.dec_max == Decimal("49.75")
        assert got.d_min == dt.date(2024, 1, 1)
        assert got.d_max == dt.date(2024, 7, 18)
        assert got.ts_min == dt.datetime(2024, 1, 1, 0, 0, 0)
        assert got.ts_max == dt.datetime(2024, 1, 1, 0, 3, 19)

        # nanosecond timestamps: min/max omitted (pyarrow surfaces the
        # stat at microsecond precision), rows + nulls still answered
        buf = pa.BufferOutputStream()
        pq.write_table(pa.table({
            "t": pa.array([1, 2, 3], pa.timestamp("ns"))}), buf)
        _boto3_client(conf).put_object(
            Bucket="statsbkt", Key="stats/ns/t.parquet",
            Body=buf.getvalue().to_pybytes())
        ns = arrow_s3_scan_stats(
            spark, "s3://statsbkt/stats/ns", conf,
            columns=["t"]).collect()[0].asDict()
        assert ns["rows"] == 3 and ns["t_nulls"] == 0
        assert "t_min" not in ns and "t_max" not in ns


    def test_engine_table_stats_equal_sql_aggregate(
            self, spark, sf_dir, counting_s3):
        """Engine.arrow_s3_table_stats over an attached remote view
        returns exactly what the SQL aggregate over that view computes —
        while moving only footer bytes (byte-counted) and issuing no
        further LIST. The remote table deliberately does NOT reuse a
        session view name ('remote_orders', not 'orders'): attach would
        refuse the collision, and the suite's shared local views must
        survive this class's moto server (round-11's 39-test poisoning)."""
        from pysparkdb import Engine
        from pysparkdb.sources import arrow_s3_write_parquet

        server, conf = counting_s3
        orders = tables(spark, sf_dir)["orders"]
        arrow_s3_write_parquet(
            orders.repartition(3), "s3://statsbkt/eng/remote_orders", conf)
        eng = Engine(spark)
        try:
            eng.attach_arrow_s3("s3://statsbkt/eng", conf)

            with pytest.raises(KeyError, match="not an attach_arrow_s3"):
                eng.arrow_s3_table_stats("nope")

            server.reset()
            got = eng.arrow_s3_table_stats(
                "remote_orders", columns=["o_totalprice"],
                assume_no_nan=True).collect()[0]
            stats_bytes = server.get_bytes
            want = eng.sql("""
                SELECT COUNT(*) AS rows,
                       MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx,
                       COUNT(*) - COUNT(o_totalprice) AS nulls
                FROM remote_orders
            """).collect()[0]
            full_bytes = server.get_bytes - stats_bytes
            assert got.rows == want.rows
            assert got.o_totalprice_min == want.mn
            assert got.o_totalprice_max == want.mx
            assert got.o_totalprice_nulls == want.nulls
            # the stats pass moved footer bytes; the SQL aggregate's scan
            # moved the data pages
            assert stats_bytes < full_bytes, (stats_bytes, full_bytes)
        finally:
            # the moto endpoint dies at class teardown — a view left
            # behind would poison every later resolution of the name
            spark.catalog.dropTempView("remote_orders")

    def test_attach_refuses_to_shadow_existing_view(
            self, spark, sf_dir, counting_s3):
        """attach_arrow_s3 must not silently repoint an already-
        registered name at the remote store (the round-11 suite
        poisoning): a derived name colliding with an existing temp view
        raises BEFORE any view is replaced; replace=True opts in; and
        after the view is replaced by other means, the stats call
        refuses its now-stale file list."""
        from pysparkdb import Engine
        from pysparkdb.sources import arrow_s3_write_parquet

        server, conf = counting_s3
        nation = tables(spark, sf_dir)["nation"]
        arrow_s3_write_parquet(
            nation, "s3://statsbkt/shadow/shadow_probe", conf)
        spark.range(7).createOrReplaceTempView("shadow_probe")
        eng = Engine(spark)
        try:
            with pytest.raises(ValueError, match="replace=True"):
                eng.attach_arrow_s3("s3://statsbkt/shadow", conf)
            # the refusal touched nothing: the local view still answers
            assert spark.table("shadow_probe").count() == 7

            eng.attach_arrow_s3("s3://statsbkt/shadow", conf, replace=True)
            assert spark.table("shadow_probe").count() == nation.count()
            got = eng.arrow_s3_table_stats(
                "shadow_probe", columns=["n_nationkey"]).collect()[0]
            assert got.rows == nation.count()

            # view replaced by other means → the attach's file list is
            # stale; profiling it would certify objects that no longer
            # back the name
            spark.range(3).createOrReplaceTempView("shadow_probe")
            with pytest.raises(KeyError, match="no longer resolves"):
                eng.arrow_s3_table_stats(
                    "shadow_probe", columns=["n_nationkey"])
        finally:
            spark.catalog.dropTempView("shadow_probe")


class TestSnapshotConcurrentAppend:
    """Commit-collision detection on the object-store snapshot protocol:
    two writers that both compute version N+1 must not silently lose a
    batch — the loser raises ConcurrentAppendError (conditional-PUT 412
    against moto, which implements If-None-Match; read-back token
    compare on stores that don't)."""

    @pytest.fixture(scope="class")
    def moto_race(self):
        try:
            from moto.server import ThreadedMotoServer
        except ImportError:
            pytest.skip("moto not installed")
        import logging

        logging.getLogger("werkzeug").setLevel(logging.ERROR)
        server = ThreadedMotoServer(port=0, verbose=False)
        server.start()
        _, port = server.get_host_and_port()
        from pysparkdb.sources.arrow_s3 import S3Conf, _boto3_client

        conf = S3Conf(endpoint=f"http://127.0.0.1:{port}",
                      access_key="ak", secret_key="sk", region="us-east-1")
        _boto3_client(conf).create_bucket(Bucket="racebkt")
        yield conf
        server.stop()

    def test_losing_append_raises_and_winner_survives(
            self, spark, sf_dir, moto_race, monkeypatch):
        from pysparkdb.sources import S3Root

        _check_racing_append(spark, sf_dir,
                             S3Root("s3://racebkt/race/nation", moto_race),
                             monkeypatch)

    def test_read_back_fallback_detects_lost_race(self):
        """On a store that ignores If-None-Match the PUT is read back: a
        manifest that reads back another writer's commit_token raises."""
        from pysparkdb.sources import ConcurrentAppendError, S3Conf, S3Root
        from pysparkdb.sources.arrow_s3 import _S3Store
        from pysparkdb.sources.versioned import _EMPTY, _commit

        class IgnoringStore:
            """put_object accepts-and-ignores the precondition (the
            lenient S3-compatible shape); get_object returns a manifest
            some OTHER writer committed."""

            def put_object(self, **kw):
                assert kw.get("IfNoneMatch") == "*" or "IfNoneMatch" not in kw

            def get_object(self, **kw):
                import io
                import json

                return {"Body": io.BytesIO(json.dumps(
                    {"commit_token": "the-other-writer"}).encode())}

        store = _S3Store(S3Root("s3://b/k", S3Conf()), client=IgnoringStore())
        with pytest.raises(ConcurrentAppendError, match="read back"):
            _commit(store, [], _EMPTY, [], 0, None, None, "me")

    def test_old_botocore_param_rejection_falls_back_to_plain_put(self):
        """botocore versions predating conditional-write support raise
        ParamValidationError (client-side, NOT a ClientError) on
        IfNoneMatch — the commit must route that to the existence check +
        plain PUT + read-back fallback, not crash every append."""
        import io
        import json

        from botocore.exceptions import ClientError, ParamValidationError

        from pysparkdb.sources import S3Conf, S3Root
        from pysparkdb.sources.arrow_s3 import _S3Store

        class OldBotocoreStore:
            def __init__(self):
                self.plain_puts = []

            def put_object(self, **kw):
                if "IfNoneMatch" in kw:
                    raise ParamValidationError(
                        report="Unknown parameter in input: IfNoneMatch")
                self.plain_puts.append(kw)

            def get_object(self, **kw):
                if not self.plain_puts:
                    raise ClientError({"Error": {"Code": "NoSuchKey"}},
                                      "GetObject")
                # read-back returns what this writer just PUT
                return {"Body": io.BytesIO(self.plain_puts[-1]["Body"])}

        client = OldBotocoreStore()
        store = _S3Store(S3Root("s3://b/k", S3Conf()), client=client)
        store.put_if_absent("_manifests/v1.json",
                            {"commit_token": "me", "version": 1})
        assert len(client.plain_puts) == 1
        assert json.loads(client.plain_puts[-1]["Body"])["commit_token"] == "me"
        with pytest.raises(FileExistsError):
            store.put_if_absent("_manifests/v1.json",
                                {"commit_token": "other", "version": 1})
        assert len(client.plain_puts) == 1

    def test_losing_append_auto_retries_and_both_batches_land(
            self, spark, sf_dir, moto_race, monkeypatch):
        from pysparkdb.sources import S3Root

        _check_retries_reland(spark, sf_dir,
                              S3Root("s3://racebkt/autoretry/nation", moto_race),
                              monkeypatch)

    def test_exhausted_retries_still_raise(
            self, spark, sf_dir, moto_race, monkeypatch):
        from pysparkdb.sources import S3Root

        _check_retries_exhausted(spark, sf_dir,
                                 S3Root("s3://racebkt/exhaust/nation", moto_race),
                                 monkeypatch)

