"""Catalog: declared-schema validation fails fast on drift.

The reference errors when catalog metadata disagrees with storage
(ObjStoreCatalogueEntryReader); here registration validates the parquet
footer against DECLARED_SCHEMAS.
"""

import os

import pytest
from pyspark.sql import functions as F

from pysparkdb.catalog import Catalog


def test_register_validates_missing_column(spark, sf_dir, tmp_path):
    bad = spark.read.parquet(f"{sf_dir}/nation.parquet").drop("n_name")
    path = str(tmp_path / "nation.parquet")
    bad.write.parquet(path)
    cat = Catalog(spark, str(tmp_path))
    with pytest.raises(ValueError, match="missing declared columns"):
        cat.register("nation", path)


def test_register_validates_type_drift(spark, sf_dir, tmp_path):
    bad = spark.read.parquet(f"{sf_dir}/nation.parquet").withColumn(
        "n_name", F.lit(1).cast("long")
    )
    path = str(tmp_path / "nation.parquet")
    bad.write.parquet(path)
    cat = Catalog(spark, str(tmp_path))
    with pytest.raises(ValueError, match="declared StringType"):
        cat.register("nation", path)


def test_register_all_skips_absent_tables(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path)).register_all()
    assert cat.tables == {}


def test_register_all_rejects_missing_data_dir(spark, tmp_path):
    """A typo'd local data_dir must fail AT ATTACH, naming the path — not
    register zero tables and surface later as TABLE_OR_VIEW_NOT_FOUND."""
    from pysparkdb.catalog import Catalog

    bogus = str(tmp_path / "no-such-sf-dir")
    with pytest.raises(FileNotFoundError, match="no-such-sf-dir"):
        Catalog(spark, bogus).register_all(validate=False)


def test_register_all_from_csv_catalog(spark, sf_dir, tmp_path):
    """CSV catalogs are co-equal with parquet (reference:
    resources/metadata/tpch-sf0.01/csv/schema.json): a directory of
    <table>.csv[.gz] registers through the same declared-schema path, and a
    TPC-H query over it matches the parquet-backed result."""
    import gzip

    import pandas as pd

    def to_csv(table, dest, compress=False):
        pdf = pd.read_parquet(f"{sf_dir}/{table}.parquet")
        text = pdf.to_csv(
            sep="|", header=False, index=False,
            date_format="%Y-%m-%d %H:%M:%S",
        )
        if compress:
            with gzip.open(dest, "wt") as f:
                f.write(text)
        else:
            with open(dest, "w") as f:
                f.write(text)

    to_csv("lineitem", str(tmp_path / "lineitem.csv.gz"), compress=True)
    to_csv("region", str(tmp_path / "region.csv"))

    cat = Catalog(spark, str(tmp_path)).register_all(validate=True)
    assert set(cat.tables) == {"lineitem", "region"}
    assert cat.table("region").count() == 5
    assert [f.name for f in cat.table("lineitem").schema.fields][:3] == [
        "l_orderkey", "l_partkey", "l_suppkey",
    ]

    from pysparkdb.queries import load_all

    q1 = load_all()["q1"]
    csv_rows = sorted(map(tuple, q1.fn(spark, str(tmp_path)).collect()))
    pq_rows = sorted(map(tuple, q1.fn(spark, sf_dir).collect()))
    assert csv_rows == pq_rows


def test_register_all_mixed_format_catalog(spark, sf_dir, tmp_path):
    """One catalog directory can mix all four formats — lineitem as ORC,
    orders as JSON-lines, customer as parquet — and a 3-table TPC-H join
    (q3) over the federated catalog matches the all-parquet result. The
    100 TB story: format migration is per-table and incremental; readers
    never need a flag day."""
    import shutil

    from pysparkdb.queries.base import tables
    from pysparkdb.sources import write_json, write_orc

    src = tables(spark, sf_dir)  # parquet-backed, timestamps resolved
    write_orc(src["lineitem"], str(tmp_path / "lineitem.orc"))
    write_json(src["orders"], str(tmp_path / "orders.json"))
    shutil.copy(
        os.path.join(sf_dir, "customer.parquet"),
        str(tmp_path / "customer.parquet"),
    )

    cat = Catalog(spark, str(tmp_path)).register_all(validate=True)
    assert set(cat.tables) == {"lineitem", "orders", "customer"}

    from pysparkdb.queries import load_all

    q3 = load_all()["q3"]
    mixed_rows = sorted(map(tuple, q3.fn(spark, str(tmp_path)).collect()))
    pq_rows = sorted(map(tuple, q3.fn(spark, sf_dir).collect()))
    assert mixed_rows == pq_rows


def test_json_registration_requires_declared_schema(spark, tmp_path):
    (tmp_path / "mystery.json").write_text('{"a": 1}\n')
    cat = Catalog(spark, str(tmp_path))
    with pytest.raises(ValueError, match="declared schema"):
        cat.register("mystery", str(tmp_path / "mystery.json"))


def test_csv_registration_requires_declared_schema(spark, tmp_path):
    (tmp_path / "mystery.csv").write_text("1|2\n")
    cat = Catalog(spark, str(tmp_path))
    with pytest.raises(ValueError, match="declared schema"):
        cat.register("mystery", str(tmp_path / "mystery.csv"))


def test_table_lookup_error_names_known_tables(spark, sf_dir):
    cat = Catalog(spark, sf_dir)
    cat.register("region", os.path.join(sf_dir, "region.parquet"))
    with pytest.raises(KeyError, match="region"):
        cat.table("no_such_table")


def test_engine_attach_snapshot_time_travel(spark, sf_dir, tmp_path):
    """Snapshot versions are queryable through the SQL front door:
    attach_snapshot pins a version as a view, and the view keeps reading
    that version's manifest even after later appends."""
    from pyspark.sql import functions as F

    from pysparkdb import Engine
    from pysparkdb.queries.base import tables
    from pysparkdb.sources.versioned import snapshot_append

    root = str(tmp_path / "snap")
    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)
    eng = Engine(spark)
    eng.attach_snapshot("nations_v1", root, version=1)
    assert eng.sql("SELECT COUNT(*) AS n FROM nations_v1").collect()[0].n == 10
    snapshot_append(nation.filter(F.col("n_nationkey") >= 10), root)
    # pinned view still reads version 1; re-attaching latest sees both
    assert eng.sql("SELECT COUNT(*) AS n FROM nations_v1").collect()[0].n == 10
    eng.attach_snapshot("nations_latest", root)
    assert (
        eng.sql("SELECT COUNT(*) AS n FROM nations_latest").collect()[0].n
        == nation.count()
    )


def test_engine_attach_snapshot_refuses_to_shadow_view(spark, sf_dir, tmp_path):
    """attach_snapshot carries the same session-catalog shadow guard as
    attach_arrow_s3: an attach over an already-registered view raises
    before any view is touched; replace=True (the console's \\pin
    re-pinning path) opts in deliberately."""
    from pyspark.sql import functions as F

    from pysparkdb import Engine
    from pysparkdb.queries.base import tables
    from pysparkdb.sources.versioned import snapshot_append

    root = str(tmp_path / "snap")
    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation.filter(F.col("n_nationkey") < 5), root)
    eng = Engine(spark)
    eng.attach_snapshot("nation_pin", root, version=1)
    try:
        with pytest.raises(ValueError, match="replace=True"):
            eng.attach_snapshot("nation_pin", root, version=1)
        # the refusal touched nothing: the pinned view still answers
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM nation_pin").collect()[0].n == 5
        snapshot_append(nation.filter(F.col("n_nationkey") >= 5), root)
        eng.attach_snapshot("nation_pin", root, replace=True)  # latest = v2
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM nation_pin").collect()[0].n == nation.count()
    finally:
        spark.catalog.dropTempView("nation_pin")


def test_engine_attach_snapshot_origin_consistent_under_concurrent_append(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r14: the registered view, its version and its cache origin
    must name the SAME version even when an append lands while the
    attach reads — otherwise a later pin at the new version could share
    cached segments with the stale view. Injected race: an append fires
    inside the data read; the read must be of the version the origin
    records (the manifest is read once, never re-resolved)."""
    from pyspark.sql import functions as F

    from pysparkdb import Engine
    from pysparkdb.queries.base import tables
    from pysparkdb.sources import versioned
    from pysparkdb.sources.versioned import snapshot_append

    root = str(tmp_path / "snap")
    nation = tables(spark, sf_dir)["nation"]
    snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)  # v1
    v1_files = versioned._store(root).get("_manifests/v1.json")["files"]

    real_read = versioned._LocalStore.read_parquet
    seen_files = []

    def racing_read(store, sp, files, schema):
        seen_files.append(sorted(files))
        df = real_read(store, sp, files, schema)
        # concurrent ingest lands v2 between this attach's read and any
        # later metadata step
        snapshot_append(nation.filter(F.col("n_nationkey") >= 10), root)
        return df

    monkeypatch.setattr(versioned._LocalStore, "read_parquet", racing_read)
    eng = Engine(spark)
    df = eng.attach_snapshot("docs", root)  # version=None -> latest (v1)
    # the read planned exactly v1's files, once
    assert seen_files == [sorted(v1_files)]
    # origin and contents agree: both name v1
    assert eng._views["docs"].origin.endswith("@v1")
    assert df.count() == 10


def test_cached_catalog_shared_and_attach_reuse(spark, sf_dir):
    """r15: cached_catalog hands out ONE Catalog per (session, data_dir) —
    Engine.attach(reuse=True) adopts it instead of re-reading every parquet
    footer per attach — and reuse re-points the temp views at the cached
    tables even after another registration shadowed the names."""
    from pysparkdb.catalog import cached_catalog
    from pysparkdb.engine import Engine

    cat1 = cached_catalog(spark, sf_dir)
    cat2 = cached_catalog(spark, sf_dir)
    assert cat1 is cat2

    eng = Engine(spark).attach(sf_dir, reuse=True)
    assert eng.catalog is cat1

    # shadow a view, then reuse-attach again: the view must point back at
    # the cached catalog's table
    spark.range(3).createOrReplaceTempView("nation")
    assert spark.table("nation").count() == 3
    Engine(spark).attach(sf_dir, reuse=True)
    assert spark.table("nation").count() == cat1.tables["nation"].count()

    # default attach still builds a fresh catalog (mutable-dir contract)
    eng3 = Engine(spark).attach(sf_dir)
    assert eng3.catalog is not cat1
