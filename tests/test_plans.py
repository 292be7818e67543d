"""Predicate transfer (semantics-preserving), cache manager policies, and
pushdown assertions."""

import pytest
from pyspark.sql import functions as F

from pysparkdb.plans import (
    JoinEdge,
    SegmentCacheManager,
    assert_pushdown,
    predicate_transfer,
    pushed_filters,
    read_schema,
)
from pysparkdb.plans.predicate_transfer import STAR_SCHEMA_EDGES
from pysparkdb.queries.base import tables, ts


def _q5_plan(t):
    """TPC-H Q5 join tree over a table dict (the pred-transfer poster query)."""
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            t["customer"],
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


class TestPredicateTransfer:
    def test_pure_prefilter_same_results(self, spark, sf_dir):
        """plan(reduced tables) ≡ plan(original tables) — the reference's
        invariant that predicate transfer never changes query results."""
        t = dict(tables(spark, sf_dir))
        t["region"] = t["region"].filter(F.col("r_name") == "ASIA")
        t["orders"] = t["orders"].filter(
            (F.col("o_orderdate") >= ts("1996-01-01 00:00:00"))
            & (F.col("o_orderdate") < ts("1997-01-01 00:00:00"))
        )
        base = {tuple(r) for r in _q5_plan(t).collect()}
        reduced = predicate_transfer(t, STAR_SCHEMA_EDGES)
        got = {tuple(r) for r in _q5_plan(reduced).collect()}
        assert got == base

    def test_reduction_shrinks_fact_table(self, spark, sf_dir):
        """The region filter must transfer 3 hops down to lineitem."""
        t = dict(tables(spark, sf_dir))
        t["region"] = t["region"].filter(F.col("r_name") == "ASIA")
        before = t["lineitem"].count()
        reduced = predicate_transfer(t, STAR_SCHEMA_EDGES)
        after = reduced["lineitem"].count()
        assert after < before, "predicate transfer did not reduce lineitem"

    def test_backward_pass_reduces_dims(self, spark, sf_dir):
        """Filtering orders must propagate BACK to customer (backward pass)."""
        t = dict(tables(spark, sf_dir))
        t["orders"] = t["orders"].filter(F.col("o_totalprice") > 450000)
        reduced = predicate_transfer(t, STAR_SCHEMA_EDGES)
        assert reduced["customer"].count() < tables(spark, sf_dir)["customer"].count()

    def test_bfs_order_same_results_as_small_to_large(self, spark, sf_dir):
        """order='bfs' (BFSPredTransOrder/Yannakakis analog) must satisfy
        the same purity invariant and match small-to-large's results on the
        q5 shape."""
        t = dict(tables(spark, sf_dir))
        t["region"] = t["region"].filter(F.col("r_name") == "ASIA")
        t["orders"] = t["orders"].filter(
            (F.col("o_orderdate") >= ts("1996-01-01 00:00:00"))
            & (F.col("o_orderdate") < ts("1997-01-01 00:00:00"))
        )
        base = {tuple(r) for r in _q5_plan(t).collect()}
        bfs = predicate_transfer(t, STAR_SCHEMA_EDGES, order="bfs")
        assert {tuple(r) for r in _q5_plan(bfs).collect()} == base

    def test_bfs_order_fully_reduces_acyclic_graph(self, spark, sf_dir):
        """On the (acyclic) star schema the BFS schedule is a full
        Yannakakis reduction: the region filter reaches lineitem forward
        and the orders filter reaches customer backward, in ONE fwd+bwd
        sweep."""
        t = dict(tables(spark, sf_dir))
        t["region"] = t["region"].filter(F.col("r_name") == "ASIA")
        t["orders"] = t["orders"].filter(F.col("o_totalprice") > 450000)
        reduced = predicate_transfer(t, STAR_SCHEMA_EDGES, order="bfs")
        full = tables(spark, sf_dir)
        assert reduced["lineitem"].count() < full["lineitem"].count()
        assert reduced["customer"].count() < full["customer"].count()

    def test_unknown_order_rejected(self, spark, sf_dir):
        with pytest.raises(ValueError, match="transfer order"):
            predicate_transfer(
                dict(tables(spark, sf_dir)), STAR_SCHEMA_EDGES, order="dfs"
            )


class TestSegmentCache:
    def test_hit_miss_and_covering_projection(self, spark, sf_dir):
        t = tables(spark, sf_dir)
        mgr = SegmentCacheManager(spark, capacity_bytes=1 << 30, policy="lru")
        a = mgr.project(t["lineitem"], "lineitem", ["l_orderkey", "l_quantity", "l_discount"])
        assert a.count() > 0
        assert mgr.hit_ratio() == 0.0
        # exact hit
        mgr.project(t["lineitem"], "lineitem", ["l_orderkey", "l_quantity", "l_discount"])
        # covering hit (subset of cached columns)
        sub = mgr.project(t["lineitem"], "lineitem", ["l_quantity"])
        assert sub.columns == ["l_quantity"]
        assert mgr.hit_count == 2 and mgr.miss_count == 1
        mgr.clear()
        assert mgr.used == 0

    def test_project_zip_scans_only_miss_columns(self, spark, sf_dir):
        """Column-granule hybrid merge (MergeKernel.cpp:122 analog): with
        orders[o_orderkey, o_orderstatus, o_orderpriority] cached, a
        request adding o_totalprice must serve the cached columns from the
        InMemoryRelation and scan ONLY (key, o_totalprice) — the fresh
        parquet ReadSchema is the miss set, never the hit columns — and
        the zipped result must equal a direct select. (orders is the table
        with a declared unique key; this testdata's lineitem has none —
        its (l_orderkey, l_linenumber) pairs repeat.)"""
        t = tables(spark, sf_dir)
        mgr = SegmentCacheManager(spark, capacity_bytes=1 << 30, policy="lru")
        mgr.project(
            t["orders"], "orders",
            ["o_orderkey", "o_orderstatus", "o_orderpriority"],
        )

        cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"]
        zipped = mgr.project_zip(t["orders"], "orders", cols, key="o_orderkey")
        assert zipped.columns == cols
        assert mgr.hit_count >= 1  # the cached projection was used

        p = zipped._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in p
        import re
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
        fresh = [s for s in schemas if "o_totalprice" in s]
        assert fresh, p
        for s in fresh:
            assert "o_orderstatus" not in s and "o_orderpriority" not in s, s

        direct = t["orders"].select(*cols)
        assert sorted(map(tuple, zipped.collect())) == sorted(map(tuple, direct.collect()))
        mgr.clear()

    def test_project_zip_degrades_to_plain_paths(self, spark, sf_dir):
        """Full cover → plain hit; nothing cached → plain miss."""
        t = tables(spark, sf_dir)
        mgr = SegmentCacheManager(spark, capacity_bytes=1 << 30, policy="lru")
        # nothing cached: behaves as a miss and admits
        a = mgr.project_zip(t["region"], "region", ["r_regionkey", "r_name"], key="r_regionkey")
        assert mgr.miss_count == 1 and a.count() > 0
        # full cover: behaves as a hit, no new entry
        before = len(mgr.entries)
        b = mgr.project_zip(t["region"], "region", ["r_regionkey", "r_name"], key="r_regionkey")
        assert mgr.hit_count == 1 and len(mgr.entries) == before
        assert b.columns == ["r_regionkey", "r_name"]
        mgr.clear()

    def test_project_zip_rejects_empty_key(self, spark, sf_dir):
        """An empty zip key must fail before any cache state mutates (it
        used to crash inside DataFrame.join with hits already counted)."""
        t = tables(spark, sf_dir)
        mgr = SegmentCacheManager(spark, capacity_bytes=1 << 30, policy="lru")
        mgr.project(t["region"], "region", ["r_regionkey", "r_name"])
        hits, misses = mgr.hit_count, mgr.miss_count
        with pytest.raises(ValueError, match="zip key"):
            mgr.project_zip(
                t["region"], "region",
                ["r_regionkey", "r_name", "r_comment"], key=[],
            )
        assert (mgr.hit_count, mgr.miss_count) == (hits, misses)
        mgr.clear()

    def test_belady_credits_partial_zip_use(self, spark, sf_dir):
        """A future request that can only PARTIALLY be served by an entry
        (project_zip's hit side) still counts as that entry's next use —
        requiring full cover would evict exactly the entry the next
        scheduled request zips from."""
        future = [
            ("customer", ("c_custkey", "c_name")),   # step 0: the admit below
            ("region", ("r_name",)),                 # step 1: the admit below
            ("customer", ("c_custkey", "c_name", "c_nationkey")),  # step 2
        ]
        mgr = SegmentCacheManager(
            spark, capacity_bytes=1 << 40, policy="belady", future=future
        )
        t = tables(spark, sf_dir)
        mgr.project(t["customer"], "customer", ["c_custkey", "c_name"])
        mgr.project(t["region"], "region", ["r_name"])
        # cursor sits at index 2: the wider customer request can only be
        # PARTIALLY served by the cached (c_custkey, c_name) entry — that
        # still counts as its next use (finite score); region shares no
        # column with anything ahead → -inf, the victim
        ckey = ("customer", ("c_custkey", "c_name"))
        rkey = ("region", ("r_name",))
        assert mgr._score(mgr.entries[ckey], ckey) == -2.0
        assert mgr._score(mgr.entries[rkey], rkey) == float("-inf")
        mgr.clear()

    def test_eviction_under_pressure_lru(self, spark, sf_dir):
        t = tables(spark, sf_dir)
        mgr = SegmentCacheManager(spark, capacity_bytes=1, policy="lru")
        mgr.project(t["customer"], "customer", ["c_custkey"])
        # nothing fits in 1 byte → nothing cached, query still works (pullup)
        assert mgr.used == 0 and len(mgr.entries) == 0

    def test_wlfu_prefers_expensive_segments(self, spark, sf_dir):
        t = tables(spark, sf_dir)
        mgr = SegmentCacheManager(spark, capacity_bytes=1 << 40, policy="wlfu")
        mgr.project(t["lineitem"], "lineitem", ["l_extendedprice"])   # big
        mgr.project(t["region"], "region", ["r_name"])                # tiny
        big = mgr.entries[("lineitem", ("l_extendedprice",))]
        small = mgr.entries[("region", ("r_name",))]
        assert mgr._score(big) > mgr._score(small)
        mgr.clear()

    def test_policy_validation(self, spark):
        with pytest.raises(ValueError, match="policy"):
            SegmentCacheManager(spark, policy="mru")
        with pytest.raises(ValueError, match="future"):
            SegmentCacheManager(spark, policy="belady")

    def test_lfus_prefers_small_hot_segments(self, spark, sf_dir):
        """LFU-S (size-normalized frequency, LFUSCachingPolicy.h): at equal
        hit counts the big segment scores lower → evicts first."""
        t = tables(spark, sf_dir)
        mgr = SegmentCacheManager(spark, capacity_bytes=1 << 40, policy="lfus")
        mgr.project(t["lineitem"], "lineitem", ["l_extendedprice"])   # big
        mgr.project(t["region"], "region", ["r_name"])                # tiny
        big = mgr.entries[("lineitem", ("l_extendedprice",))]
        small = mgr.entries[("region", ("r_name",))]
        assert mgr._score(big) < mgr._score(small)
        mgr.clear()

    def test_belady_evicts_farthest_next_use(self, spark, sf_dir):
        """Belady oracle (BeladyCachingPolicy.h): with the future known,
        the victim is the entry used farthest ahead (or never again)."""
        t = tables(spark, sf_dir)
        k_cust = ("customer", ("c_custkey",))
        k_reg = ("region", ("r_name",))
        future = [k_cust, k_reg, k_cust]  # region never used after step 2
        mgr = SegmentCacheManager(
            spark, capacity_bytes=1 << 40, policy="belady", future=future
        )
        mgr.project(t["customer"], "customer", ["c_custkey"])
        mgr.project(t["region"], "region", ["r_name"])
        # after both accesses the cursor sits at index 2: customer's next
        # use is index 2, region is never used again → region is the victim
        assert mgr._score(mgr.entries[k_reg], k_reg) < mgr._score(
            mgr.entries[k_cust], k_cust
        )
        mgr.clear()


class TestJoinEdgeExtractionSafety:
    """The three silent-corruption hazards of plan-derived edges: outer
    joins (reducing the preserved side drops rows), duplicated conjunct
    columns (schema corruption in the reduced relation), and ambiguous
    leaf signatures (edges attributed to the wrong table)."""

    @pytest.fixture()
    def lr(self, spark, tmp_path):
        spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, "z"), (4, "w")], "k long, a string"
        ).write.parquet(str(tmp_path / "lt"))
        spark.createDataFrame(
            [(1, 10, 1, "b1")], "fk long, fk2 long, twin long, b string"
        ).write.parquet(str(tmp_path / "rt"))
        lt = spark.read.parquet(str(tmp_path / "lt"))
        rt = spark.read.parquet(str(tmp_path / "rt"))
        lt.createOrReplaceTempView("pt_lt")
        rt.createOrReplaceTempView("pt_rt")
        return lt, rt

    def test_outer_join_conditions_do_not_transfer(self, spark, lr):
        from pysparkdb.plans.predicate_transfer import extract_join_edges

        lt, rt = lr
        df = spark.sql(
            "SELECT pt_lt.k, pt_rt.b FROM pt_lt LEFT JOIN pt_rt ON pt_lt.k = pt_rt.fk"
        )
        assert extract_join_edges(df, {"pt_lt": lt, "pt_rt": rt}) == []
        # inner form still extracts
        inner = spark.sql(
            "SELECT pt_lt.k, pt_rt.b FROM pt_lt JOIN pt_rt ON pt_lt.k = pt_rt.fk"
        )
        assert len(extract_join_edges(inner, {"pt_lt": lt, "pt_rt": rt})) == 1

    def test_duplicate_conjunct_columns_collapse(self, spark, lr):
        from pysparkdb.plans.predicate_transfer import (
            extract_join_edges, predicate_transfer,
        )

        lt, rt = lr
        df = spark.sql(
            "SELECT pt_lt.k FROM pt_lt JOIN pt_rt "
            "ON pt_lt.k = pt_rt.fk AND pt_lt.k = pt_rt.fk2"
        )
        edges = extract_join_edges(df, {"pt_lt": lt, "pt_rt": rt})
        assert len(edges) == 1
        e = edges[0]
        assert len(e.left_keys) == len(set(e.left_keys)) == 1
        reduced = predicate_transfer({"pt_lt": lt, "pt_rt": rt}, edges)
        # the reduced relation keeps a clean schema (no duplicated column)
        assert reduced["pt_lt"].columns == lt.columns

    def test_ambiguous_schema_signatures_are_excluded(self, spark, lr):
        from pysparkdb.plans.predicate_transfer import extract_join_edges

        lt, rt = lr
        df = spark.sql(
            "SELECT pt_lt.k, pt_rt.b FROM pt_lt JOIN pt_rt ON pt_lt.k = pt_rt.fk"
        )
        # a second attached table with lt's exact schema makes the leaf
        # signature ambiguous: no edge may be attributed to either
        twin = lt.limit(1)
        assert extract_join_edges(
            df, {"pt_lt": lt, "pt_rt": rt, "lt_twin": twin}
        ) == []

    def test_barrier_between_equality_and_leaf_blocks_harvest(self, spark, lr):
        """A LIMIT between the join condition and the leaf makes reduction
        impure: top-2 of a reduced table ≠ the matching part of the true
        top-2. The equality must not be harvested."""
        from pysparkdb.plans.predicate_transfer import extract_join_edges

        lt, rt = lr
        df = spark.sql(
            "SELECT t.k, pt_rt.b FROM "
            "(SELECT * FROM pt_lt ORDER BY a LIMIT 2) t "
            "JOIN pt_rt ON t.k = pt_rt.fk"
        )
        assert extract_join_edges(df, {"pt_lt": lt, "pt_rt": rt}) == []
        # a window function below the condition is the same hazard
        dfw = spark.sql(
            "SELECT t.k FROM (SELECT k, ROW_NUMBER() OVER (ORDER BY a) rn "
            "FROM pt_lt) t JOIN pt_rt ON t.k = pt_rt.fk WHERE t.rn = 1"
        )
        assert extract_join_edges(dfw, {"pt_lt": lt, "pt_rt": rt}) == []

    def test_barrier_above_join_still_harvests(self, spark, lr):
        """Barriers DOWNSTREAM of the join are pure — reduction leaves the
        join's output row-identical — so the common TPC-H shell (top-level
        GROUP BY + ORDER BY ... LIMIT over the join) keeps its edges."""
        from pysparkdb.plans.predicate_transfer import extract_join_edges

        lt, rt = lr
        df = spark.sql(
            "SELECT pt_rt.fk, COUNT(*) AS n FROM pt_lt "
            "JOIN pt_rt ON pt_lt.k = pt_rt.fk "
            "GROUP BY pt_rt.fk ORDER BY n DESC LIMIT 5"
        )
        assert len(extract_join_edges(df, {"pt_lt": lt, "pt_rt": rt})) == 1

    def test_multi_use_table_yields_no_edges(self, spark, lr):
        """A table appearing twice (UNION ALL branch + join) must not be
        reduced: the view swap is global, so a reduction justified by one
        instance's join would drop rows from the standalone branch."""
        from pysparkdb.plans.predicate_transfer import extract_join_edges

        lt, rt = lr
        df = spark.sql(
            "SELECT k FROM pt_lt JOIN pt_rt ON pt_lt.k = pt_rt.fk "
            "UNION ALL SELECT k FROM pt_lt"
        )
        assert extract_join_edges(df, {"pt_lt": lt, "pt_rt": rt}) == []

    def test_engine_transfer_pure_on_limit_subquery_and_union(self, spark, sf_dir):
        """End-to-end regression for the purity hole: the engine's
        predicate_transfer=True path must return bit-identical results on
        the two adversarial shapes (top-K subquery feeding a join; UNION
        ALL reusing a joined table)."""
        from pysparkdb import Engine

        eng = Engine(spark)
        eng.attach(sf_dir, validate=False)
        topk = (
            "SELECT t.l_orderkey, o.o_orderdate FROM "
            "(SELECT * FROM lineitem ORDER BY l_extendedprice DESC, "
            " l_orderkey, l_linenumber LIMIT 10) t "
            "JOIN orders o ON t.l_orderkey = o.o_orderkey "
            "WHERE o.o_orderdate < DATE '1996-01-01'"
        )
        union = (
            "SELECT l_orderkey FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "WHERE o_orderdate < DATE '1993-01-01' "
            "UNION ALL SELECT l_orderkey FROM lineitem"
        )
        for q in (topk, union):
            plain = sorted(map(tuple, eng.sql(q).collect()))
            transferred = sorted(
                map(tuple, eng.sql(q, predicate_transfer=True).collect())
            )
            assert transferred == plain

    def test_transfer_over_pinned_snapshot_view(self, spark, sf_dir, tmp_path):
        """A local pinned-snapshot view (attach_snapshot) is a base table
        for the transfer pass: a selective join against a catalog table
        returns identical rows with the semi-join reduction in the plan.
        The pin's schema differs from the catalog twin's (column
        dropped), so the signature is unambiguous; an identical-schema
        pin would fall to the ambiguity exclusion instead (no edge,
        never a wrong reduction). Dropping the pin afterwards must not
        be resurrected by a later transfer call's view-restore."""
        from pysparkdb import Engine
        from pysparkdb.sources.versioned import snapshot_append

        eng = Engine(spark)
        eng.attach(sf_dir, validate=False)
        root = str(tmp_path / "snap")
        snapshot_append(
            eng.table("nation").select("n_nationkey", "n_regionkey"), root)
        eng.attach_snapshot("nation_pin", root)
        try:
            q = ("SELECT n.n_nationkey FROM region r, nation_pin n "
                 "WHERE r.r_regionkey = n.n_regionkey "
                 "AND r.r_name = 'ASIA' ORDER BY n.n_nationkey")
            plain = [tuple(x) for x in eng.sql(q).collect()]
            red = eng.sql(q, predicate_transfer=True)
            assert [tuple(x) for x in red.collect()] == plain and plain
            assert "LeftSemi" in \
                red._jdf.queryExecution().executedPlan().toString()
            spark.catalog.dropTempView("nation_pin")
            eng.sql(
                "SELECT COUNT(*) AS n FROM region r, nation n "
                "WHERE r.r_regionkey = n.n_regionkey",
                predicate_transfer=True).collect()
            assert not spark.catalog.tableExists("nation_pin"), \
                "a dropped pin must stay dropped through the view-restore"
        finally:
            if spark.catalog.tableExists("nation_pin"):
                spark.catalog.dropTempView("nation_pin")


class TestEngineParameterizedSql:
    def test_named_and_positional_args_bind_as_literals(self, spark, sf_dir):
        """Engine.sql(args=...) binds through Spark's parameterized-SQL
        binder: named and positional forms produce the literal-SQL
        answer, and a hostile string value stays a VALUE (no splice)."""
        from pysparkdb import Engine

        eng = Engine(spark)
        eng.attach(sf_dir, validate=False)
        want = eng.sql(
            "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_regionkey = 1"
        ).collect()
        named = eng.sql(
            "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_regionkey = :rk",
            args={"rk": 1},
        ).collect()
        positional = eng.sql(
            "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_regionkey = ?",
            args=[1],
        ).collect()
        assert named == want and positional == want
        hostile = eng.sql(
            "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nation WHERE n_name = :nm",
            args={"nm": "x' OR '1'='1"},
        ).collect()
        assert hostile[0].n == 0  # bound as a value, not spliced

    def test_args_compose_with_predicate_transfer(self, spark, sf_dir):
        from pysparkdb import Engine
        from pysparkdb.plans.pushdown import explain_str

        eng = Engine(spark)
        eng.attach(sf_dir, validate=False)
        q = """
            SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem, orders, customer, nation, region
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = :region
            GROUP BY n_name
        """
        plain = eng.sql(q, args={"region": "EUROPE"})
        transferred = eng.sql(q, predicate_transfer=True, args={"region": "EUROPE"})
        assert "LeftSemi" in explain_str(transferred, "simple")
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, transferred.collect())
        )


class TestEnginePredicateTransfer:
    def test_sql_auto_mode_same_results_and_semi_reduced_plan(self, spark, sf_dir):
        """Engine.sql(..., predicate_transfer=True): the join graph comes
        from the query's own analyzed plan, the pass swaps in
        semi-reduced relations, and results are IDENTICAL to the plain
        run (purity invariant at the engine surface). The transferred
        plan must actually contain the semi joins, and the temp views
        must be restored afterwards."""
        from pysparkdb import Engine
        from pysparkdb.plans.pushdown import explain_str

        eng = Engine(spark)
        eng.attach(sf_dir, validate=False)
        q = """
            SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem, orders, customer, nation, region
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'EUROPE'
            GROUP BY n_name
        """
        plain = eng.sql(q)
        transferred = eng.sql(q, predicate_transfer=True)
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, transferred.collect())
        )
        assert "LeftSemi" in explain_str(transferred, "simple")
        # views restored: a plain re-run sees the unreduced tables again
        assert "LeftSemi" not in explain_str(eng.sql(q), "simple")

    def test_sql_auto_mode_is_cost_based(self, spark, sf_dir, monkeypatch):
        """predicate_transfer="auto": below the measured per-core crossover
        the pass must NOT run (test tables are far under it — the plan is
        the plain one), and once the threshold is cleared (forced to 0)
        the same call applies the reduction, with identical results."""
        import pysparkdb.engine as engine_mod
        from pysparkdb import Engine
        from pysparkdb.plans.pushdown import explain_str

        eng = Engine(spark)
        eng.attach(sf_dir, validate=False)
        q = """
            SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem, orders, customer, nation, region
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'EUROPE'
            GROUP BY n_name
        """
        baseline = sorted(map(tuple, eng.sql(q).collect()))
        off = eng.sql(q, predicate_transfer="auto")
        assert "LeftSemi" not in explain_str(off, "simple")
        # the crossover is a PER-INSTANCE knob (auto_bytes_per_core), so
        # flipping it affects only this facade — the thread-safety
        # contract other concurrent facades rely on
        eng.auto_bytes_per_core = 0
        on = eng.sql(q, predicate_transfer="auto")
        assert "LeftSemi" in explain_str(on, "simple")
        assert sorted(map(tuple, on.collect())) == baseline
        from pysparkdb.engine import Engine as _E

        assert _E(spark).auto_bytes_per_core == engine_mod._AUTO_BYTES_PER_CORE


class TestHybridCacheE2E:
    def test_q6_hybrid_second_run_hits_cache(self, spark, sf_dir):
        """The reference's per-query hit-ratio contract
        (fpdb-main/test-base/TestUtil.cpp:404-406, getCrtQueryHitRatio):
        the first q6_hybrid run cold-misses and admits the projection, the
        SECOND run must serve it from the segment cache (hit_ratio > 0) and
        return an identical answer — the cache is semantically invisible."""
        from pysparkdb.queries import load_all
        from pysparkdb.queries.tpch import _HYBRID_CACHES

        fn = load_all()["q6_hybrid"].fn
        first = fn(spark, sf_dir).collect()
        mgr = _HYBRID_CACHES[spark]
        hits_before = mgr.hit_count
        second = fn(spark, sf_dir).collect()
        assert mgr.hit_count > hits_before
        assert mgr.hit_ratio() > 0.0
        assert first == second


class TestModeAxis:
    """The reference's four-way execution-mode axis (fpdb-plan/include/
    fpdb/plan/Mode.h:13-18, exec.conf:4 MODE=) as one Engine knob —
    the HybridTest.cpp / CachingOnlyTest.cpp scenario: the same query
    under PULL_UP / PUSHDOWN_ONLY / CACHING_ONLY / HYBRID returns
    identical results while each mode's scan mechanics differ."""

    Q = """
        SELECT CAST(SUM(l_extendedprice * l_discount) AS DECIMAL(25,6)) AS revenue
        FROM lineitem
        WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07
    """

    def test_four_modes_identical_results(self, spark, sf_dir):
        from pysparkdb.engine import MODES, Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            results = {m: eng.sql(self.Q, mode=m).collect() for m in MODES}
            base = results["pushdown"]
            for m, rows in results.items():
                assert rows == base, f"mode {m} diverged"
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_four_modes_identical_results_join_query(self, spark, sf_dir):
        """Mode identity on the join+group shape (SSB 2.1 — the
        HybridTest.cpp scenario scripts/mode_bench.py measures): cache
        routing must stay transparent where the cached scans feed JOINS,
        not just the scan-aggregate Q6 shape above — a cache segment
        projected to the wrong column working set would break the join
        sides here long before it broke a single-table aggregate."""
        from pysparkdb.engine import MODES, Engine
        from pysparkdb.queries import load_all

        sql = load_all()["ssb2_1"].oracle
        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            results = {m: eng.sql(sql, mode=m).collect() for m in MODES}
            base = results["pushdown"]
            assert base, "vacuous: ssb2_1 returned no rows"
            for m, rows in results.items():
                assert rows == base, f"mode {m} diverged"
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_mode_scan_mechanics(self, spark, sf_dir):
        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            # pullup: the parquet reader's filter pushdown is off (plan
            # text still LISTS translated candidate filters — Spark prints
            # them unconditionally — but the reader conf governs row-group
            # skipping, which is the bytes-moved contract of the axis)
            eng.sql(self.Q, mode="pullup")
            assert spark.conf.get("spark.sql.parquet.filterPushdown") == "false"
            assert eng.mode == "pullup"

            # pushdown: confs restored, filters reach the scan
            df = eng.sql(self.Q, mode="pushdown")
            assert spark.conf.get("spark.sql.parquet.filterPushdown") == "true"
            assert any("l_quantity" in f for f in pushed_filters(df))

            # caching: the lineitem working set is served through an
            # InMemoryRelation segment; a repeat query HITS it
            df = eng.sql(self.Q, mode="caching")
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
            df.collect()
            hits_before = eng._segment_cache.hit_count
            eng.sql(self.Q).collect()
            assert eng._segment_cache.hit_count > hits_before

            # hybrid: cache routing + pushdown confs both on; a SUBSET
            # column request still serves from the cached segment
            df = eng.sql(
                "SELECT CAST(SUM(l_discount) AS DECIMAL(25,6)) AS d FROM lineitem "
                "WHERE l_quantity < 24",
                mode="hybrid",
            )
            assert spark.conf.get("spark.sql.parquet.filterPushdown") == "true"
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan

            # a bogus mode is rejected, not silently run as pushdown
            with pytest.raises(ValueError, match="mode"):
                eng.set_mode("turbo")
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_cache_routing_fallback_and_attribution(self, spark, sf_dir, tmp_path):
        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            eng.set_mode("caching")
            # the optimizer folds `true OR l_tax > 0` away, but the working
            # set comes from the ANALYZED plan, which still references
            # l_tax — so the routed view holds it and re-resolution of the
            # raw text succeeds
            n = eng.sql(
                "SELECT l_quantity FROM lineitem WHERE true OR l_tax > 0"
            ).count()
            assert n == tables(spark, sf_dir)["lineitem"].count()

            # a view over a FOREIGN file whose columns happen to be ⊆ a
            # catalog table's must not admit that table's segment
            # (attribution is by registered file path, not column subset)
            d = str(tmp_path / "snap.parquet")
            spark.sql(
                "SELECT n_nationkey, n_name, n_regionkey FROM nation LIMIT 5"
            ).write.parquet(d)
            spark.read.parquet(d).createOrReplaceTempView("snap_v")
            before = len(eng._segment_cache.entries)
            eng.sql("SELECT COUNT(*) AS n FROM snap_v").collect()
            assert len(eng._segment_cache.entries) == before
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_explicit_mode_reapplies_after_session_reset(self, spark, sf_dir):
        """The mode confs are session-global; another Engine's __init__
        re-applies the pushdown defaults. An explicit mode= request must
        re-assert its confs even when the Engine believes it is already in
        that mode."""
        from pysparkdb.engine import Engine

        e1 = Engine(spark).attach(sf_dir, validate=False)
        try:
            e1.set_mode("pullup")
            Engine(spark)  # resets session confs to the engine defaults
            assert spark.conf.get("spark.sql.parquet.filterPushdown") == "true"
            e1.sql("SELECT COUNT(*) AS n FROM nation", mode="pullup")
            assert spark.conf.get("spark.sql.parquet.filterPushdown") == "false"
        finally:
            e1.set_mode("pushdown")
            e1.clear_segment_cache()

    def test_explicit_cache_params_rebuild_the_cache(self, spark, sf_dir):
        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            eng.set_mode("caching")
            first = eng._segment_cache
            eng.set_mode("caching")          # no params → cache kept
            assert eng._segment_cache is first
            eng.set_mode("caching", cache_policy="lru")  # explicit → rebuilt
            assert eng._segment_cache is not first
            assert eng._segment_cache.policy == "lru"
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_partial_cache_params_inherit_and_wrong_mode_rejects(self, spark, sf_dir):
        """A rebuild with only one cache parameter keeps the other from
        the existing cache (not a silent reset to defaults), and cache
        parameters with a non-caching mode are an error, not a no-op."""
        import pytest as _pytest

        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            eng.set_mode("caching", cache_capacity_bytes=4 << 30,
                         cache_policy="lfu")
            eng.set_mode("caching", cache_policy="lru")  # capacity inherited
            assert eng._segment_cache.capacity == 4 << 30
            assert eng._segment_cache.policy == "lru"
            eng.set_mode("caching", cache_capacity_bytes=2 << 30)
            assert eng._segment_cache.policy == "lru"    # policy inherited
            assert eng._segment_cache.capacity == 2 << 30
            with _pytest.raises(ValueError, match="caching/hybrid"):
                eng.set_mode("pushdown", cache_capacity_bytes=1 << 20)
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_cache_routing_preserves_declared_column_order(self, spark, sf_dir):
        """SELECT * must return the DECLARED column order in every mode —
        the mode axis changes execution, never results (a sorted cache
        projection used to alphabetize the schema in caching/hybrid)."""
        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        want = eng.sql("SELECT * FROM orders").columns
        try:
            got = eng.sql("SELECT * FROM orders", mode="caching").columns
            assert got == want
            # repeat (cache hit path) keeps the order too
            assert eng.sql("SELECT * FROM orders").columns == want
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    # SSB flight 1 as a dashboard panel: the same text with bound values
    SSB_Q = """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6)))
                    AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE EXTRACT(YEAR FROM o_orderdate) = :year
          AND l_discount BETWEEN :lo AND :hi AND l_quantity < 25
    """
    SSB_ARGS = {"year": 1996, "lo": 0.01, "hi": 0.03}

    @staticmethod
    def _spy_full_routing(eng, monkeypatch) -> list:
        """Record every full routing (the memo's miss path) of ``eng``."""
        calls = []
        full = eng._route_full

        def spy(*a):
            calls.append(a[1])
            return full(*a)

        monkeypatch.setattr(eng, "_route_full", spy)
        return calls

    @staticmethod
    def _run_counted(spark, eng, q, args=None):
        """(DataFrame, rows, Spark jobs, cache hits, cache misses) of one
        ``eng.sql`` call collected under its own job group."""
        import uuid

        sc = spark.sparkContext
        c = eng._segment_cache
        h0, m0 = c.hit_count, c.miss_count
        group = f"memo-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            df = eng.sql(q, args=args)
            rows = df.collect()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return df, rows, jobs, c.hit_count - h0, c.miss_count - m0

    def test_repeated_hybrid_query_reuses_its_routing(
            self, spark, sf_dir, monkeypatch):
        """A repeated hybrid query is routed once: later calls return the
        pushdown rows, run as many Spark jobs as the routed run and count
        the same cache hits, each through a fresh QueryExecution (the memo
        is not a result cache). The memo survives a mode interlude without
        cache parameters; after a cache rebuild the next call routes in
        full."""
        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            want = eng.sql(self.SSB_Q, args=self.SSB_ARGS,
                           mode="pushdown").collect()
            assert want and want[0].revenue is not None
            eng.set_mode("hybrid")
            eng.sql(self.SSB_Q, args=self.SSB_ARGS).collect()  # admits
            eng._route_memo.clear()
            full = self._spy_full_routing(eng, monkeypatch)
            runs = [self._run_counted(spark, eng, self.SSB_Q, self.SSB_ARGS)
                    for _ in range(3)]
            assert len(full) == 1, "repeats were routed again"
            _, _, jobs, hits, _ = runs[0]
            assert jobs > 0 and hits > 0
            for _, rows, j, h, m in runs:
                assert rows == want
                assert (j, h, m) == (jobs, hits, 0)
            qes = [df._jdf.queryExecution() for df, *_ in runs]
            assert not qes[1].equals(qes[2]) and not qes[0].equals(qes[1])

            eng.set_mode("pushdown")
            eng.set_mode("hybrid")
            assert self._run_counted(
                spark, eng, self.SSB_Q, self.SSB_ARGS)[1] == want
            assert len(full) == 1, "a mode interlude dropped the memo"
            eng.set_mode("hybrid", cache_policy="lru")
            assert self._run_counted(
                spark, eng, self.SSB_Q, self.SSB_ARGS)[1] == want
            assert len(full) == 2, "a cache rebuild kept the old routing"
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_routing_memo_falls_back_when_its_inputs_change(
            self, spark, sf_dir, tmp_path, monkeypatch):
        """Every change that could make a memoized routing wrong or its
        accounting stale falls back to the full routing and returns the
        pushdown rows: changed args, an evicted segment, a re-pinned
        snapshot version, a referenced temp view replaced by other means,
        and a nondeterministic (unseeded rand()) query. A failed check
        counts nothing itself, and the memo never outgrows its bound."""
        from pyspark.sql import functions as F

        from pysparkdb import engine as engine_mod
        from pysparkdb.engine import Engine
        from pysparkdb.sources.versioned import snapshot_append

        eng = Engine(spark).attach(sf_dir, validate=False)
        root = str(tmp_path / "pin")
        nation = eng.table("nation")
        snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)
        snapshot_append(nation.filter(F.col("n_nationkey") >= 10), root)

        def pushdown_rows(q, args=None):
            mode = eng.mode
            try:
                return eng.sql(q, args=args, mode="pushdown").collect()
            finally:
                eng.set_mode(mode)

        def check_full(q, args=None):
            """One more full routing; the pushdown rows."""
            n = len(full)
            want = pushdown_rows(q, args)
            assert self._run_counted(spark, eng, q, args)[1] == want
            assert len(full) == n + 1, f"memo served a changed input: {q}"

        try:
            eng.set_mode("hybrid")
            full = self._spy_full_routing(eng, monkeypatch)
            eng.sql(self.SSB_Q, args=self.SSB_ARGS).collect()
            # changed args
            check_full(self.SSB_Q, {**self.SSB_ARGS, "year": 1995})

            # an evicted segment the memoized routing used: the failed
            # check adds no counts, so the full routing's own are all
            memo = eng._route_memo[
                (self.SSB_Q, repr(self.SSB_ARGS), "hybrid")]
            c = eng._segment_cache
            used = memo.requests[0][2]
            c._evict(next(k for k, e in c.entries.items() if e is used))
            _, rows, _, hits, misses = self._run_counted(
                spark, eng, self.SSB_Q, self.SSB_ARGS)
            assert rows == pushdown_rows(self.SSB_Q, self.SSB_ARGS)
            assert (hits + misses, misses) == (len(memo.requests), 1)
            assert len(full) == 3

            # a re-pinned snapshot version
            pin_q = ("SELECT COUNT(*) AS n, SUM(n_nationkey) AS s "
                     "FROM memo_pin")
            eng.attach_snapshot("memo_pin", root, version=1)
            check_full(pin_q)
            self._run_counted(spark, eng, pin_q)
            assert len(full) == 4, "the pinned-view repeat was routed again"
            eng.attach_snapshot("memo_pin", root, version=2, replace=True)
            check_full(pin_q)

            # a referenced temp view replaced by other means
            view_q = ("SELECT COUNT(*) AS n FROM lineitem "
                      "JOIN memo_keys ON l_orderkey = k")
            spark.range(1, 50).toDF("k").createOrReplaceTempView("memo_keys")
            check_full(view_q)
            spark.range(1, 20).toDF("k").createOrReplaceTempView("memo_keys")
            check_full(view_q)

            # a nondeterministic query never matches its earlier plan
            rand_q = "SELECT COUNT(*) AS n FROM lineitem WHERE rand() < 2.0"
            check_full(rand_q)
            check_full(rand_q)

            assert len(eng._route_memo) <= engine_mod._ROUTE_MEMO_SIZE
            monkeypatch.setattr(engine_mod, "_ROUTE_MEMO_SIZE", 2)
            for year in (1993, 1994, 1995):
                eng.sql(self.SSB_Q, args={**self.SSB_ARGS, "year": year})
            assert len(eng._route_memo) == 2
            assert (self.SSB_Q, repr({**self.SSB_ARGS, "year": 1995}),
                    "hybrid") in eng._route_memo
        finally:
            for v in ("memo_pin", "memo_keys"):
                spark.catalog.dropTempView(v)
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_routing_memo_survives_a_repin_of_another_name(
            self, spark, sf_dir, tmp_path, monkeypatch):
        """Re-pinning a view a memoized routing does not read leaves that
        routing in use; re-pinning the view it reads makes the next call
        route in full and return the new version's rows."""
        from pyspark.sql import functions as F

        from pysparkdb.engine import Engine
        from pysparkdb.sources.versioned import snapshot_append

        eng = Engine(spark).attach(sf_dir, validate=False)
        root = str(tmp_path / "pin")
        nation = eng.table("nation")
        snapshot_append(nation.filter(F.col("n_nationkey") < 10), root)
        snapshot_append(nation.filter(F.col("n_nationkey") >= 10), root)
        q = "SELECT COUNT(*) AS n, SUM(n_nationkey) AS s FROM surv_pin"

        def pushdown_rows():
            try:
                return eng.sql(q, mode="pushdown").collect()
            finally:
                eng.set_mode("hybrid")

        try:
            eng.attach_snapshot("surv_pin", root, version=1)
            eng.attach_snapshot("surv_other", root, version=1)
            eng.set_mode("hybrid")
            full = self._spy_full_routing(eng, monkeypatch)
            self._run_counted(spark, eng, q)
            assert len(full) == 1
            eng.attach_snapshot("surv_other", root, version=2, replace=True)
            want = pushdown_rows()
            assert self._run_counted(spark, eng, q)[1] == want
            assert len(full) == 1, "a re-pin of another name dropped the memo"
            eng.attach_snapshot("surv_pin", root, version=2, replace=True)
            want = pushdown_rows()
            assert want[0].n == 25
            assert self._run_counted(spark, eng, q)[1] == want
            assert len(full) == 2, "a re-pin of the read name kept its routing"
        finally:
            for v in ("surv_pin", "surv_other"):
                spark.catalog.dropTempView(v)
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_routed_call_after_clear_segment_cache(self, spark, sf_dir):
        """clear_segment_cache() in hybrid mode leaves the mode in force;
        the next routed call gets a new cache and returns the pushdown
        rows."""
        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            want = eng.sql(self.SSB_Q, args=self.SSB_ARGS,
                           mode="pushdown").collect()
            eng.sql(self.SSB_Q, args=self.SSB_ARGS, mode="hybrid").collect()
            eng.clear_segment_cache()
            got = eng.sql(self.SSB_Q, args=self.SSB_ARGS).collect()
            assert want and got == want
            assert eng._segment_cache.entries, "the new cache admitted"
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_catalog_view_replaced_by_other_means(self, spark, sf_dir):
        """A catalog view re-registered over a filtered read is no longer
        the registered plan: a hybrid query returns the replacement's
        rows and admits no segment of the name, predicate transfer on a
        join reading it returns the replacement's rows too, and neither
        restores the registered plan over the replacement."""
        from pysparkdb.engine import Engine
        from pysparkdb.plans.pushdown import explain_str

        eng = Engine(spark).attach(sf_dir, validate=False)
        repl = spark.read.parquet(eng.catalog.paths["nation"]) \
            .filter("n_nationkey < 5")
        repl.createOrReplaceTempView("nation")
        q = ("SELECT n_regionkey, COUNT(*) AS n FROM nation "
             "GROUP BY n_regionkey ORDER BY n_regionkey")
        join_q = """
            SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem, orders, customer, nation
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n_nationkey AND o_orderstatus = 'F'
            GROUP BY n_name ORDER BY n_name
        """
        try:
            want = eng.sql(q).collect()
            assert sum(r.n for r in want) == 5
            assert eng.sql(q, mode="hybrid").collect() == want
            assert not [t for t, _ in eng._segment_cache.entries
                        if t.startswith("nation@")]
            assert spark.table("nation").sameSemantics(repl)

            eng.set_mode("pushdown")
            want = eng.sql(join_q).collect()
            assert len(want) == 5
            got = eng.sql(join_q, predicate_transfer=True)
            assert "LeftSemi" in explain_str(got, "simple")
            assert got.collect() == want
            assert spark.table("nation").sameSemantics(repl)
        finally:
            eng.catalog.tables["nation"].createOrReplaceTempView("nation")
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    @staticmethod
    def _segments(eng, table):
        """Column tuples of ``eng``'s cached segments of catalog ``table``."""
        prefix = f"{table}@{eng.catalog.data_dir}"
        return [cols for t, cols in eng._segment_cache.entries if t == prefix]

    def test_hybrid_segment_holds_only_the_referenced_columns(
            self, spark, sf_dir):
        """A hybrid SSB flight-1 query admits lineitem and orders segments
        that hold the columns its text references, not the whole tables
        (the catalog view's own cast Project is not counted)."""
        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            want = eng.sql(self.SSB_Q, args=self.SSB_ARGS,
                           mode="pushdown").collect()
            got = eng.sql(self.SSB_Q, args=self.SSB_ARGS,
                          mode="hybrid").collect()
            assert want and got == want
            assert self._segments(eng, "lineitem") == [(
                "l_discount", "l_extendedprice", "l_orderkey", "l_quantity")]
            assert self._segments(eng, "orders") == [
                ("o_orderdate", "o_orderkey")]
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_view_read_in_a_subquery_keeps_the_subquery_columns(
            self, spark, sf_dir):
        """A view used both in the outer query and in a scalar subquery,
        with a column (l_tax) only the subquery reads: the working set
        covers both uses, so the routed re-resolution succeeds."""
        from pysparkdb.engine import Engine

        q = ("SELECT COUNT(*) AS n FROM lineitem WHERE l_quantity > "
             "(SELECT AVG(l_quantity) FROM lineitem WHERE l_tax > 0.05)")
        eng = Engine(spark).attach(sf_dir, validate=False)
        try:
            want = eng.sql(q, mode="pushdown").collect()
            assert want[0].n > 0
            assert eng.sql(q, mode="hybrid").collect() == want
            assert self._segments(eng, "lineitem") == [
                ("l_quantity", "l_tax")]
            # a subquery alias named like a registered view is not that view
            q = ("SELECT COUNT(*) AS n FROM lineitem WHERE l_orderkey IN "
                 "(SELECT o_orderkey FROM orders AS lineitem "
                 "WHERE o_totalprice > 1000)")
            want = eng.sql(q, mode="pushdown").collect()
            assert eng.sql(q, mode="hybrid").collect() == want
            assert self._segments(eng, "orders") == [
                ("o_orderkey", "o_totalprice")]
        finally:
            eng.set_mode("pushdown")
            eng.clear_segment_cache()

    def test_dataframe_view_over_a_catalog_file_is_not_routed(
            self, spark, sf_dir):
        """A DataFrame temp view over a catalog table's own file is not a
        registered view: it admits no segment and counts no cache hit or
        miss (attribution is by view name, not by file path)."""
        from pysparkdb.engine import Engine

        eng = Engine(spark).attach(sf_dir, validate=False)
        spark.read.parquet(eng.catalog.paths["lineitem"]) \
            .createOrReplaceTempView("li_file")
        q = "SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM li_file"
        try:
            want = eng.sql(q, mode="pushdown").collect()
            eng.set_mode("hybrid")
            c = eng._segment_cache
            assert eng.sql(q).collect() == want
            assert (c.entries, c.hit_count, c.miss_count) == ({}, 0, 0)
        finally:
            spark.catalog.dropTempView("li_file")
            eng.set_mode("pushdown")
            eng.clear_segment_cache()


class TestPushdown:
    def test_q6_filters_reach_scan(self, spark, sf_dir):
        l = tables(spark, sf_dir)["lineitem"]
        df = l.filter(
            (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).select("l_extendedprice")
        assert_pushdown(df, expect_filter_cols=["l_discount", "l_quantity"])

    def test_column_pruning_reaches_scan(self, spark, sf_dir):
        l = tables(spark, sf_dir)["lineitem"]
        df = l.select("l_orderkey", "l_quantity")
        # 16-column table, 2-column projection → scan must read exactly 2
        assert_pushdown(df, max_read_columns=2)
        assert set(read_schema(df)) == {"l_orderkey", "l_quantity"}

    def test_assertion_fires_on_unpushable(self, spark, sf_dir):
        l = tables(spark, sf_dir)["lineitem"]
        # a filter on a computed expression cannot push down as-is
        df = l.filter(F.sqrt(F.col("l_quantity")) > 100)
        with pytest.raises(AssertionError, match="not pushed"):
            assert_pushdown(df, expect_filter_cols=["nonexistent_col"])

    def test_in_list_filter_not_truncated(self, spark, sf_dir):
        """In-list pushed filters contain nested ']' — the parser must
        bracket-balance, not stop at the first ']'."""
        l = tables(spark, sf_dir)["lineitem"]
        df = l.filter(F.col("l_linenumber").isin(1, 2, 3)).select("l_orderkey")
        in_filters = [f for f in pushed_filters(df) if f.startswith("In(")]
        assert in_filters, pushed_filters(df)
        assert any("3" in f and f.endswith(")") for f in in_filters), in_filters

    def test_filter_list_parser_units(self):
        """Deterministic parser check against a synthetic explain body."""
        from pysparkdb.plans.pushdown import _balanced_body, _split_top_level

        text = "... PushedFilters: [In(a, [1, 2, 3]), IsNotNull(b), GreaterThan(c, 5)], ..."
        body = _balanced_body(text, text.index("["))
        assert body == "In(a, [1, 2, 3]), IsNotNull(b), GreaterThan(c, 5)"
        assert _split_top_level(body) == [
            "In(a, [1, 2, 3])", "IsNotNull(b)", "GreaterThan(c, 5)",
        ]
        assert _split_top_level("") == []

    def test_filter_parser_skips_quoted_literals(self):
        """Brackets/commas inside string literals must not unbalance the
        scan or split a filter — e.g. StringContains(c, 'a]b') or an
        In-list of strings containing commas."""
        from pysparkdb.plans.pushdown import _balanced_body, _split_top_level

        text = "PushedFilters: [StringContains(c, 'a]b'), In(s, ['x,y', \"p)q\"])] tail"
        body = _balanced_body(text, text.index("["))
        assert body == "StringContains(c, 'a]b'), In(s, ['x,y', \"p)q\"])"
        assert _split_top_level(body) == [
            "StringContains(c, 'a]b')", "In(s, ['x,y', \"p)q\"])",
        ]


class TestRuntimeBloomFilter:
    def test_catalyst_injects_bloom_filter_on_selective_join(self, spark, sf_dir):
        """§2.9 per-join baseline: Catalyst's runtime bloom filter is the
        BloomFilterCreatePOp/BloomFilterUsePOp pair — a bloom_filter_agg on
        the filtered build side and might_contain() guarding the probe scan
        (spark.sql.optimizer.runtime.bloomFilter.enabled, on in
        pysparkdb.session). Thresholds lowered to make MB-scale test data
        eligible; at real scale the defaults govern."""
        saved = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            )
        }
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        try:
            t = tables(spark, sf_dir)
            o = t["orders"].filter(F.col("o_totalprice") > 400000)
            j = t["lineitem"].join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "might_contain" in plan
            assert "bloom_filter_agg" in plan
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestJoinEdgeExtraction:
    def test_q5_edges_extracted_from_plan(self, spark, sf_dir):
        """JoinOriginTracer analog: the analyzed plan of the Q5 DataFrame
        yields its full join graph without hand-declared edges."""
        from pysparkdb.plans.predicate_transfer import extract_join_edges
        from pysparkdb.queries import load_all

        t = tables(spark, sf_dir)
        df = load_all()["q5"].fn(spark, sf_dir)
        edges = {
            (e.left, e.left_keys, e.right, e.right_keys)
            for e in extract_join_edges(df, t)
        }
        assert ("lineitem", ("l_orderkey",), "orders", ("o_orderkey",)) in edges
        assert ("nation", ("n_regionkey",), "region", ("r_regionkey",)) in edges
        assert ("customer", ("c_custkey",), "orders", ("o_custkey",)) in edges
        assert ("lineitem", ("l_suppkey",), "supplier", ("s_suppkey",)) in edges
        assert len(edges) == 6

    def test_conjuncts_from_different_nodes_stay_separate_edges(self, spark, sf_dir):
        """Conjuncts from two DIFFERENT plan nodes (a Join condition and a
        WHERE Filter above it) between the same table pair must stay two
        single-key edges: AND-merging them would demand one row matching
        both conditions — over-reduction, a wrong prefilter."""
        from pysparkdb.plans.predicate_transfer import extract_join_edges

        t = tables(spark, sf_dir)
        t["nation"].createOrReplaceTempView("nation")
        t["customer"].createOrReplaceTempView("customer")
        df = spark.sql(
            "SELECT n_name FROM nation JOIN customer "
            "ON n_nationkey = c_nationkey WHERE n_regionkey = c_custkey"
        )
        edges = extract_join_edges(df, t)
        pair = [e for e in edges if {e.left, e.right} == {"nation", "customer"}]
        key_sets = {(e.left_keys, e.right_keys) for e in pair}
        assert ((("c_nationkey",), ("n_nationkey",)) in key_sets
                or (("n_nationkey",), ("c_nationkey",)) in key_sets)
        assert ((("c_custkey",), ("n_regionkey",)) in key_sets
                or (("n_regionkey",), ("c_custkey",)) in key_sets)
        # two separate single-key edges, never one AND-merged multi-key edge
        assert all(len(e.left_keys) == 1 for e in pair), pair

    def test_twice_scanned_table_yields_no_edges(self, spark, sf_dir):
        """A table scanned twice in one plan (both leaves carrying its
        signature) is multi-use: the engine's global view swap would reduce
        BOTH instances, so no edge may touch it — a reduction justified by
        one join drops rows the other instance still returns."""
        from pysparkdb.plans.predicate_transfer import extract_join_edges

        t = tables(spark, sf_dir)
        customer2 = spark.read.parquet(f"{sf_dir}/customer.parquet")
        df = (
            t["nation"]
            .join(t["customer"], F.col("n_nationkey") == F.col("c_nationkey"))
            .select("n_nationkey", "n_name")
            .join(customer2, F.col("n_nationkey") == customer2["c_custkey"])
        )
        assert [
            e for e in extract_join_edges(df, t)
            if "customer" in (e.left, e.right)
        ] == []

    def test_transfer_with_extracted_edges_preserves_results(self, spark, sf_dir):
        from pysparkdb.plans.predicate_transfer import (
            extract_join_edges,
            predicate_transfer,
        )
        from pysparkdb.queries import load_all

        base_tables = tables(spark, sf_dir)
        edges = extract_join_edges(
            load_all()["q5"].fn(spark, sf_dir), base_tables
        )
        t = dict(base_tables)
        t["region"] = t["region"].filter(F.col("r_name") == "ASIA")
        base = {tuple(r) for r in _q5_plan(t).collect()}
        got = {tuple(r) for r in _q5_plan(predicate_transfer(t, edges)).collect()}
        assert got == base


class TestOperatorMetrics:
    def test_collect_with_metrics_reports_per_operator(self, spark, sf_dir):
        """SHOW_OP_TIMES / SHOW_SCAN_METRICS analog (exec.conf:7-8): the
        executed-plan walk must surface the scan's row/file counts and the
        aggregate's row counts with correct values, through AQE's final
        plan (query-stage wrappers descended, not reported as leaves)."""
        from pysparkdb.plans.metrics import collect_with_metrics, format_metrics
        from pysparkdb.queries import load_all

        df = load_all()["q6"].fn(spark, sf_dir)
        rows, ops = collect_with_metrics(df)
        assert len(rows) == 1
        nodes = {o["node"] for o in ops}
        assert any(n.startswith("Scan parquet") for n in nodes), nodes
        scan = next(o for o in ops if o["node"].startswith("Scan parquet"))
        assert scan["metrics"]["numFiles"] >= 1
        assert scan["metrics"]["numOutputRows"] > 0
        # leaf depth > root depth proves the walk descended the wrappers
        assert scan["depth"] > 2
        txt = format_metrics(ops)
        assert "numOutputRows" in txt and "Scan parquet" in txt


class TestEngineRegisterFunction:
    def test_vectorized_udf_matches_builtin(self, spark, sf_dir):
        """Engine.register_function (Arrow-batched default): the UDF is
        callable from SQL text and agrees with the built-in expression
        it mirrors — and the registration is the documented LAST resort,
        not a hot-path pattern."""
        import pandas as pd

        from pysparkdb import Engine
        from pysparkdb.queries.base import tables

        eng = Engine(spark)
        tables(spark, sf_dir)

        def net_price(price: pd.Series, disc: pd.Series) -> pd.Series:
            return price * (1.0 - disc)

        eng.register_function("net_price_udf", net_price, "double")
        got = eng.sql(
            "SELECT l_orderkey, l_linenumber,"
            "       net_price_udf(l_extendedprice, l_discount) AS net"
            " FROM lineitem WHERE l_orderkey < 50"
        ).collect()
        want = eng.sql(
            "SELECT l_orderkey, l_linenumber,"
            "       l_extendedprice * (1 - l_discount) AS net"
            " FROM lineitem WHERE l_orderkey < 50"
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert got  # non-vacuous

    def test_row_udf_registers(self, spark, sf_dir):
        from pysparkdb import Engine
        from pysparkdb.queries.base import tables

        eng = Engine(spark)
        tables(spark, sf_dir)
        eng.register_function(
            "shout_udf", lambda s: (s or "") + "!", "string", vectorized=False
        )
        row = eng.sql(
            "SELECT shout_udf(o_orderpriority) AS p FROM orders LIMIT 1"
        ).collect()[0]
        assert row.p.endswith("!")

    def test_collision_guard(self, spark):
        """A UDF may not silently shadow a built-in or a prior
        registration on the shared session; replace=True is the
        deliberate overwrite path."""
        import pandas as pd
        import pytest

        from pysparkdb import Engine

        eng = Engine(spark)
        with pytest.raises(ValueError, match="already exists"):
            eng.register_function("abs", lambda s: s, "double")
        eng.register_function(
            "collision_probe_udf", lambda s: s * 2.0, "double",
            vectorized=False,
        )
        with pytest.raises(ValueError, match="already exists"):
            eng.register_function(
                "collision_probe_udf", lambda s: s * 3.0, "double",
                vectorized=False,
            )
        eng.register_function(
            "collision_probe_udf", lambda s: s * 3.0, "double",
            vectorized=False, replace=True,
        )
        assert eng.sql(
            "SELECT collision_probe_udf(CAST(2.0 AS DOUBLE)) AS v"
        ).collect()[0].v == 6.0
        # built-in untouched throughout
        assert spark.sql("SELECT abs(-1.5) AS v").collect()[0].v == 1.5
