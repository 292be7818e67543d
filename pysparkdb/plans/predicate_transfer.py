"""Predicate transfer — pre-filtering every table across the join graph.

Re-expression of the reference's CIDR-2024 predicate-transfer mode
(/root/reference/fpdb-executor/src/physical/transform/pred-trans/
PrePToPTransformerForPredTrans.cpp:48-78): before running a multi-join plan,
phase 1 transfers join-key filters between tables — a forward pass in
small-to-large order, then a backward pass — so every table is reduced to
(a superset of) the rows that survive the full join; phase 2 runs the
original plan over the reduced tables. Transfer order mirrors
SmallToLargePredTransOrder.cpp; the join graph comes from explicit edges
(the reference extracts them with fpdb-plan/src/prephysical/
JoinOriginTracer.cpp).

Spark-first design:
- Each transfer step is a LEFT SEMI join against the DISTINCT keys of the
  (already-reduced) neighbor — the exact-filter equivalent of the
  reference's bloom-filter transfer (BloomFilterCreatePOp/BloomFilterUsePOp,
  SURVEY §2.9). Key sets of dimension tables are broadcast, so a transfer
  costs a broadcast-hash semi join, not a shuffle.
- Per-join *runtime* bloom filters remain Catalyst's job
  (spark.sql.optimizer.runtime.bloomFilter.enabled, on by default in
  pysparkdb.session) — this pass adds the multi-hop, whole-graph reduction
  Catalyst cannot derive.
- Correctness invariant: the pass is pure pre-filtering — semi joins never
  add or duplicate rows — so plan(reduced) ≡ plan(original) for any plan
  whose joins are the graph's edges (property-tested in
  tests/test_predicate_transfer.py).

At 100 TB: each pass step is one broadcast semi join per edge; the win is
that the big fact table is reduced *before* its expensive shuffle join, by
filters implied two or more hops away (e.g. region name → nation keys →
supplier keys → lineitem rows) — precisely the queries (TPC-H Q5/Q8/Q9
shapes) where the paper reports its gains.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pysparkdb.plans.cache import _plan_size_bytes


@dataclass(frozen=True)
class JoinEdge:
    """One equi-join edge of the join graph: left.keys == right.keys."""

    left: str
    left_keys: tuple[str, ...]
    right: str
    right_keys: tuple[str, ...]


def _semi_reduce(
    target: DataFrame, target_keys: tuple[str, ...],
    source: DataFrame, source_keys: tuple[str, ...],
    broadcast_keys: bool,
) -> DataFrame:
    """target ⋉ source on the edge keys (the bloom-filter-use analog)."""
    keys = source.select(
        *[F.col(s).alias(t) for s, t in zip(source_keys, target_keys)]
    ).distinct()
    if broadcast_keys:
        keys = F.broadcast(keys)
    return target.join(keys, on=list(target_keys), how="left_semi")


def predicate_transfer(
    tables: dict[str, DataFrame],
    edges: list[JoinEdge],
    sizes: dict[str, int] | None = None,
    broadcast_threshold: int = 64 << 20,
    order: str = "small_to_large",
) -> dict[str, DataFrame]:
    """Reduce every table by transferring join-key sets across ``edges``.

    ``sizes``: per-table size estimates (any consistent unit — the pass
    only compares magnitudes and checks ``broadcast_threshold``). Defaults
    to optimizer plan-stat bytes, which costs no Spark job — the transfer
    pass itself must not spend scans before the query runs (the reference
    reads precomputed stats.json for the same reason). Only tables named
    by ``edges`` are sized. Returns a new {name: reduced DataFrame}
    mapping; inputs are untouched.

    Transfers whose *source* exceeds ``broadcast_threshold`` are SKIPPED
    entirely (still correct: the pass only ever under-reduces) — the
    reference's own cutoff, which refuses to build bloom filters above
    20M rows (fpdb-executor physical/Globals.h:54). A fact table therefore
    receives reductions from every dimension but never pays to emit its
    own key set back.

    ``order`` selects the transfer schedule, mirroring the reference's two
    PredTransOrder strategies (fpdb-executor/src/physical/transform/
    pred-trans/{SmallToLargePredTransOrder,BFSPredTransOrder}.cpp):

    - ``"small_to_large"``: edges ordered by the max size of their
      endpoints; forward reduces the larger endpoint with the smaller's
      keys, backward reverses.
    - ``"bfs"``: Yannakakis-style two-phase over a BFS spanning order
      rooted at the smallest table — forward processes edges in reverse
      BFS-discovery order transferring child → parent (leaves inward),
      backward replays them root-outward parent → child. For an acyclic
      join graph this is the classic full semi-join reduction; extra
      (cycle) edges still transfer and remain pure prefilters.

    Either order yields identical RESULTS for any downstream plan (the
    purity invariant — property-tested); they differ only in how much
    reduction each single pass achieves on a given graph shape.
    """
    if sizes is None:
        edge_tables = {e.left for e in edges} | {e.right for e in edges}
        sizes = {name: _plan_size_bytes(tables[name]) for name in edge_tables}

    reduced = dict(tables)

    # fwd: ordered list of (edge, src_is_left) — the forward-pass schedule
    # with each edge's forward SOURCE side; the backward pass replays it
    # reversed with flipped orientation.
    if order == "small_to_large":
        # Edges ordered by the max size of their endpoints, so small dims
        # reduce mid-size tables before those reduce the fact table
        # (SmallToLargePredTransOrder.cpp's ordering intent); forward
        # source = the smaller endpoint.
        fwd = [
            (e, sizes[e.left] <= sizes[e.right])
            for e in sorted(edges, key=lambda e: max(sizes[e.left], sizes[e.right]))
        ]
    elif order == "bfs":
        fwd = _bfs_edge_order(edges, sizes)
    else:
        raise ValueError(f"unknown transfer order {order!r}")

    def transfer(edge: JoinEdge, src_is_left: bool) -> None:
        src, sk, dst, dk = (
            (edge.left, edge.left_keys, edge.right, edge.right_keys)
            if src_is_left
            else (edge.right, edge.right_keys, edge.left, edge.left_keys)
        )
        if sizes[src] > broadcast_threshold:
            return  # over the build cutoff (Globals.h:54 analog): skip
        reduced[dst] = _semi_reduce(
            reduced[dst], dk, reduced[src], sk, broadcast_keys=True
        )

    for e, src_is_left in fwd:  # forward pass
        transfer(e, src_is_left)
    for e, src_is_left in reversed(fwd):  # backward pass, flipped
        transfer(e, not src_is_left)
    return reduced


def _bfs_edge_order(
    edges: list[JoinEdge], sizes: dict[str, int]
) -> list[tuple[JoinEdge, bool]]:
    """Yannakakis-style schedule over a BFS spanning order
    (BFSPredTransOrder.cpp analog): BFS from the smallest table assigns
    each edge a (parent, child) orientation at discovery; the forward pass
    runs edges deepest-first transferring child → parent (the classic
    leaf-to-root semi-join reduction), the backward pass replays them
    root-outward parent → child. Cycle edges (endpoint already visited)
    and disconnected components schedule with the same convention."""
    adj: dict[str, list[tuple[JoinEdge, bool]]] = {}
    for e in edges:
        # stored as (edge, other_endpoint_is_left_side)
        adj.setdefault(e.left, []).append((e, False))
        adj.setdefault(e.right, []).append((e, True))

    visited: set[str] = set()
    scheduled: set[int] = set()
    discovery: list[tuple[JoinEdge, bool]] = []  # (edge, child_is_left)

    for root in sorted(adj, key=lambda t: sizes[t]):
        if root in visited:
            continue
        visited.add(root)
        queue = [root]
        while queue:
            parent = queue.pop(0)
            # visit smaller neighbors first (deterministic, dimension-first)
            for e, other_is_left in sorted(
                adj[parent],
                key=lambda x: sizes[x[0].left if x[1] else x[0].right],
            ):
                if id(e) in scheduled:
                    continue
                scheduled.add(id(e))
                child = e.left if other_is_left else e.right
                if child not in visited:
                    visited.add(child)
                    queue.append(child)
                discovery.append((e, other_is_left))

    # forward = deepest-first (reverse discovery order), source = child
    return [(e, child_is_left) for e, child_is_left in reversed(discovery)]


# The TPC-H-shape join graph of the driver's star schema, usable directly
# with pysparkdb.queries.base.tables(...).
STAR_SCHEMA_EDGES: list[JoinEdge] = [
    JoinEdge("region", ("r_regionkey",), "nation", ("n_regionkey",)),
    JoinEdge("nation", ("n_nationkey",), "customer", ("c_nationkey",)),
    JoinEdge("nation", ("n_nationkey",), "supplier", ("s_nationkey",)),
    JoinEdge("customer", ("c_custkey",), "orders", ("o_custkey",)),
    JoinEdge("orders", ("o_orderkey",), "lineitem", ("l_orderkey",)),
    JoinEdge("supplier", ("s_suppkey",), "lineitem", ("l_suppkey",)),
    JoinEdge("part", ("p_partkey",), "lineitem", ("l_partkey",)),
]


def extract_join_edges(df: DataFrame, tables: dict[str, DataFrame]) -> list[JoinEdge]:
    """Derive the join graph from a DataFrame's ANALYZED logical plan — the
    JoinOriginTracer analog (fpdb-plan/src/prephysical/JoinOriginTracer.cpp
    walks the prephysical tree for the same purpose): callers of
    ``predicate_transfer`` need not hand-declare edges for a query they
    already built.

    Walks the plan via py4j: leaf relations are identified by their full
    column-name signature against ``tables``; every equi-conjunct
    (`a = b` over two base-table attributes, possibly under casts) in any
    join condition becomes part of a JoinEdge; multiple conjuncts between
    the same table pair merge into one multi-key edge. Non-column and
    non-equi conjuncts are ignored (they cannot carry a key-set transfer).

    Two purity gates protect the "reduced tables ⇒ identical results"
    invariant the caller's view swap relies on (both only ever UNDER-
    reduce): an equality is harvested only if no row-set-reshaping
    operator (LIMIT/Sample/Window/Aggregate/… — ``_BARRIERS``) sits
    between its node and the leaf, and a table whose leaf appears more
    than once in the plan (UNION ALL branches, subquery + join) yields
    no edges at all, since a swap justified by one instance would also
    reshape the other.

    Filter nodes are harvested the same way as join conditions: SQL text
    with comma-list joins (`FROM a, b WHERE a.k = b.k`) analyzes as
    condition-less Join nodes under one WHERE Filter — at the analyzed
    stage those filter equalities ARE the join conditions (Catalyst pushes
    them into the joins only later, during optimization; extracting from
    the optimized plan instead would break leaf matching, since column
    pruning shrinks each relation's signature).
    """
    plan = df._jdf.queryExecution().analyzed()

    # Leaf relations are identified by their column-name signature; two
    # of ``tables`` with IDENTICAL schemas would collide (the dict keeps
    # one, possibly attributing an edge to the wrong table and reducing by
    # keys from the other). Ambiguous signatures are therefore excluded
    # outright — their joins simply don't transfer (under-reduction is
    # always safe). Engine passes only the views the query reads.
    sigs: dict[frozenset, list[str]] = {}
    for name, t in tables.items():
        sigs.setdefault(frozenset(t.schema.fieldNames()), []).append(name)
    sig_to_name = {s: ns[0] for s, ns in sigs.items() if len(ns) == 1}
    # exprId -> (table, column, barrier ctx at the leaf)
    attr_origin: dict[int, tuple[str, str, tuple]] = {}
    table_uses: dict[str, int] = {}  # leaf instances per table in the plan
    # (join_node_id, barrier ctx at the condition, lid, rid)
    equalities: list[tuple[int, tuple, int, int]] = []
    join_seq = [0]
    barrier_seq = [0]

    # Purity barriers: an equality may be harvested only if NO barrier sits
    # strictly BETWEEN its node and the leaf. A LIMIT/Sample/Offset between
    # them picks a row SUBSET that changes if the base table is pre-reduced
    # (top-10 of a reduced table ≠ the matching part of the true top-10);
    # Window recomputes over the reduced partition (row_number renumbers
    # SURVIVING rows); Aggregate/Expand/Generate recompute values over the
    # reduced row set. AttributeReferences keep their exprIds through all
    # of them, so without this gate the leaf lookup would happily trace
    # through and the view swap would return silently wrong results.
    # Barriers ABOVE the join are pure — reduction leaves that join's
    # output row-identical, so everything downstream (a top-level GROUP BY
    # or ORDER BY ... LIMIT, the common TPC-H shell) is untouched. The walk
    # therefore tags every node with the PATH of barriers crossed from the
    # root (a tuple of unique ids) and requires leaf ctx == condition ctx,
    # not "no barrier anywhere". CTERelationDef is in the list because a
    # WITH body resolves once but may be referenced many times — reducing
    # a table through a ref would reshape every other ref. (Project aliases
    # mint fresh exprIds and drop out naturally; Filter/Sort/SubqueryAlias/
    # View/Union are membership-pure pass-throughs: rows a branch-local
    # reduction removes are exactly rows its own join kills.)
    _BARRIERS = frozenset({
        "GlobalLimit", "LocalLimit", "Limit", "Offset", "Tail", "Sample",
        "Window", "Aggregate", "Distinct", "Deduplicate", "Expand",
        "Generate", "CTERelationDef",
    })

    def walk(node, ctx):
        cls = node.getClass().getSimpleName()
        # Origin nodes producing a table's columns: file-source scans
        # (LogicalRelation) AND the jar-less remote scan shape — a
        # mapInArrow node whose output IS the attached view's schema
        # (Engine.attach_arrow_s3 and a remote attach_snapshot register
        # _read_parquet_files plans; their leaf is the task list, so the
        # MapInArrow node is where the table's attributes are minted).
        # Same signature matching, same ambiguity exclusion.
        if cls in ("LogicalRelation", "MapInArrow", "PythonMapInArrow"):
            out = node.output()
            names = [out.apply(i).name() for i in range(out.size())]
            table = sig_to_name.get(frozenset(names))
            if table is not None:
                # every instance counts toward multi-use: the view swap is
                # global, so a table appearing twice (UNION ALL branches, a
                # barred subquery plus a join) must not be reduced — rows
                # its OTHER use still needs would vanish from both
                table_uses[table] = table_uses.get(table, 0) + 1
                for i in range(out.size()):
                    a = out.apply(i)
                    attr_origin[a.exprId().id()] = (table, a.name(), ctx)
        elif cls == "Join" and node.condition().isDefined():
            # INNER conditions only: semi-reducing the preserved side of an
            # outer join (or the left of an anti join) would DROP its
            # unmatched rows — the purity invariant "semi joins only remove
            # rows that cannot survive the query's joins" holds just for
            # inner equi-joins. Comma-list WHERE equalities (the Filter
            # branch below) are inner by construction.
            if str(node.joinType()).strip().lower() == "inner":
                join_seq[0] += 1
                collect_eq(node.condition().get(), join_seq[0], ctx)
        elif cls == "Filter":
            join_seq[0] += 1
            collect_eq(node.condition(), join_seq[0], ctx)
        if cls in _BARRIERS:
            barrier_seq[0] += 1
            ctx = ctx + (barrier_seq[0],)
        for i in range(node.children().size()):
            walk(node.children().apply(i), ctx)

    def strip_cast(e):
        while e.getClass().getSimpleName() in ("Cast", "Alias"):
            e = e.child()
        return e

    def collect_eq(e, join_id, ctx):
        cls = e.getClass().getSimpleName()
        if cls == "And":
            collect_eq(e.left(), join_id, ctx)
            collect_eq(e.right(), join_id, ctx)
        elif cls == "EqualTo":
            l, r = strip_cast(e.left()), strip_cast(e.right())
            if (
                l.getClass().getSimpleName() == "AttributeReference"
                and r.getClass().getSimpleName() == "AttributeReference"
            ):
                equalities.append((join_id, ctx, l.exprId().id(), r.exprId().id()))

    walk(plan, ())

    # Conjuncts merge into one multi-key edge ONLY within a single Join
    # node: two different joins between the same table pair (e.g. a fact
    # joined twice against one dimension on different keys) are two edges —
    # AND-ing their conjuncts would demand one row matching both, a stronger
    # condition than the plan's, breaking the pure-prefilter invariant.
    merged: dict[tuple[int, str, str], tuple[list, list]] = {}
    for join_id, ctx, lid, rid in equalities:
        lo, ro = attr_origin.get(lid), attr_origin.get(rid)
        if lo is None or ro is None or lo[0] == ro[0]:
            continue
        # Purity gate: both attributes must reach this condition without
        # crossing a barrier (same barrier path as the condition's node) —
        # see _BARRIERS above. A mismatch means a Limit/Window/Aggregate/…
        # sits between, where "rows the join kills" ≠ "rows safe to remove
        # from the base table".
        if lo[2] != ctx or ro[2] != ctx:
            continue
        (lt, lc, _), (rt, rc, _) = sorted([lo, ro])  # canonical table order
        lks, rks = merged.setdefault((join_id, lt, rt), ([], []))
        # Each column may appear ONCE per edge side: `lt.k = rt.a AND
        # lt.k = rt.b` must not produce left_keys ('k','k') — _semi_reduce
        # would alias two source columns to one name and corrupt the
        # reduced schema. Dropping the extra conjunct only under-reduces,
        # which is always safe (pure prefilter).
        if lc not in lks and rc not in rks:
            lks.append(lc)
            rks.append(rc)
    # Multi-use exclusion: the caller's view swap replaces a table for the
    # WHOLE query, so a table whose leaf appears more than once (UNION ALL
    # branches, a scalar subquery plus a join, two CTE refs) must not be
    # reduced at all — a reduction justified by one instance's join would
    # drop rows the other instance still returns. Dropping the edge only
    # under-reduces, which is always safe.
    return [
        JoinEdge(lt, tuple(lks), rt, tuple(rks))
        for (_jid, lt, rt), (lks, rks) in merged.items()
        if table_uses.get(lt) == 1 and table_uses.get(rt) == 1
    ]
