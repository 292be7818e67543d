"""Same seed, same inputs; another seed, other inputs."""

import numpy as np
import pyarrow as pa

import datagen
from workloads import INGEST, SSB, duckdb_sql, ingest_args, markers, permuted, ssb_args

CITIES = (["NATION_1_1", "NATION_2_2", "NATION_3_3"], ["NATION_4_4", "NATION_5_5"])


def ssb_stream(seed: int, passes: int = 2) -> list:
    """The (kind, bound values) sequence the ssb_dashboard loop runs: one
    set of bound values per kind, then passes in seed-drawn orders."""
    rng = np.random.default_rng([seed, 2])
    params = {k: ssb_args(k, rng, CITIES) for k in SSB}
    return [(k, params[k]) for _ in range(passes) for k in permuted(rng, list(SSB))]


def ingest_stream(seed: int, refreshes: int = 4) -> list:
    rng = np.random.default_rng([seed, 2])
    params = {k: ingest_args(k, rng) for k in INGEST}
    return [(k, params[k]) for _ in range(refreshes)
            for k in ["fresh_totals"] + permuted(rng, ["brand_revenue", "nation_revenue"])]


def test_query_order_and_bound_values_repeat_per_seed():
    assert ssb_stream(7) == ssb_stream(7)
    assert ingest_stream(7) == ingest_stream(7)


def test_other_seed_changes_order_and_values():
    a, b = ssb_stream(7), ssb_stream(8)
    assert [k for k, _ in a] != [k for k, _ in b]
    assert [v for _, v in a] != [v for _, v in b]
    assert ingest_stream(7) != ingest_stream(8)


def test_every_pass_runs_every_kind_once():
    stream = ssb_stream(3, passes=1)
    assert sorted(k for k, _ in stream) == sorted(SSB)


def test_bound_values_cover_every_marker():
    rng = np.random.default_rng(0)
    for name, sql in SSB.items():
        assert set(ssb_args(name, rng, CITIES)) == set(markers(sql)), name
    for name, sql in INGEST.items():
        assert set(ingest_args(name, rng)) == set(markers(sql)), name


def test_duckdb_markers():
    assert duckdb_sql("a = :x AND b = :yy AND '12:30' = c") == "a = $x AND b = $yy AND '12:30' = c"
    assert markers("CAST(x AS STRING) = :a OR y = :a OR z = :b") == ["a", "b"]


def test_base_tables_repeat_per_seed():
    a, b, c = datagen.tables(5), datagen.tables(5), datagen.tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.ROWS["lineitem"]


def test_ingest_batches_repeat_per_seed():
    a = datagen.ingest_batches(5, 3, 100)
    b = datagen.ingest_batches(5, 3, 100)
    c = datagen.ingest_batches(6, 3, 100)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(c[0])
    # the batches differ from each other and from the base lineitem rows
    assert not a[0].equals(a[1])
    assert a[0].schema == datagen.tables(5)["lineitem"].schema
    assert isinstance(a[0]["l_shipdate"].type, pa.TimestampType)
