"""Engine — the client surface.

Reference lifecycle (fpdb-main/src/Client.cpp:94-158): catalog fetch → SQL →
Calcite plan (Thrift/Java) → prephysical plan → physical plan → CAF actor
execution → result TupleSet. In Spark every one of those stages is Catalyst +
the DAG scheduler; the Engine is therefore a thin facade: a SparkSession, a
Catalog of declared tables, ``sql()`` returning a DataFrame, and a DataFrame
handle per table for the operator-builder API (pysparkdb.operators).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from pysparkdb.catalog import Catalog
from pysparkdb.plans.cache import SegmentCacheManager, _plan_size_bytes
from pysparkdb.session import apply_engine_confs, get_spark

# Serializes SQL-text RESOLUTION (not execution) across threads. Temp views
# are session-global, so the view swap-resolve-restore of the predicate-
# transfer pass and of cache routing (Engine._resolve_with_views) would
# otherwise race a concurrent sql() resolving against the swapped
# views (the reference runs N concurrent queries against one server —
# fpdb-calcite MultiQueryTest — so the facade must too). Resolution is
# milliseconds; execution of the returned DataFrames proceeds fully in
# parallel, so the lock costs nothing at scale. Module-level on purpose:
# two Engine facades over the same SparkSession share the view namespace,
# so they must share the lock.
_RESOLVE_LOCK = threading.RLock()

# predicate_transfer="auto" enables the pre-pass only when the largest
# joined table's optimizer-estimated bytes exceed this per-core budget —
# the measured crossover (SCALE.md "Measured crossover", scripts/
# pred_transfer_crossover.py): the pass first wins between 9.6M and 19.2M
# replicated lineitem rows on 8 cores ≈ 170-345 MB of plan-stat bytes, so
# ~21-43 MB/core; 40 MB/core sits at the conservative end (auto stays off
# until the win is clear). Plan-stat bytes cost no Spark job to read —
# the reference's stats.json role.
_AUTO_BYTES_PER_CORE = 40 << 20

# Routing-memo bound (see Engine._route_views_through_cache): the most
# recently used distinct (text, args, mode) routings an Engine keeps. A
# dashboard's panel set is tens of texts; each entry holds only plan
# handles and references to segments the cache already owns.
_ROUTE_MEMO_SIZE = 256

# The reference's execution-mode axis (fpdb-plan/include/fpdb/plan/Mode.h:
# 13-18, selected by resources/config/exec.conf:4 `MODE=`): PULL_UP moves
# raw data to compute and evaluates everything there; PUSHDOWN_ONLY ships
# filter/project(/partial-agg) to the storage tier; CACHING_ONLY serves hot
# segments from local memory and pulls misses up unpushed; HYBRID routes
# cache hits around a pushdown scan of the misses
# (PrePToS3PTransformer.cpp:309-461). Spark analog per mode:
#   pullup   — scan-level pushdown confs OFF (every row group crosses the
#              storage→compute boundary; filters evaluate in the executor,
#              Spark's column pruning stays — Catalyst cannot un-prune),
#              no cache.
#   pushdown — the engine default (DEFAULT_CONFS): parquet filter/agg
#              pushdown, runtime bloom filters, DPP.
#   caching  — pushdown confs OFF + every attached-table scan routed
#              through the SegmentCacheManager (hits are InMemoryRelation
#              column segments; misses load unpushed and are admitted).
#   hybrid   — pushdown confs ON + cache routing (miss side keeps the
#              pushdown scan).
# Like the reference's MODE, the switch is SESSION-scoped: Spark reads
# these confs when a DataFrame is planned/executed, so the mode in force
# at action time governs — set it, run, read results (exec.conf has the
# same contract: one mode per server process).
MODES = ("pullup", "pushdown", "caching", "hybrid")

_PUSHDOWN_CONFS = (
    "spark.sql.parquet.filterPushdown",
    "spark.sql.parquet.aggregatePushDown",
    "spark.sql.orc.filterPushdown",
    "spark.sql.csv.filterPushdown.enabled",
    "spark.sql.json.filterPushdown.enabled",
    "spark.sql.optimizer.runtime.bloomFilter.enabled",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled",
)


class _View(NamedTuple):
    """One registered view the engine may swap: a catalog table, an
    attach_snapshot pin (local or remote) or an attach_arrow_s3 view."""

    # the registered plan; a query's View node of the name is live while
    # its child sameResults this plan's analysis (see Engine._view_columns)
    df: DataFrame
    # stable identity for cache keys (``name@origin``): the catalog's
    # data_dir, root@vN for a local pin, uri@vN or prefix/name remote
    origin: str
    # remote views only: the data objects and the S3Conf (what
    # arrow_s3_table_stats profiles) and the recorded data bytes, None =
    # unknown (legacy manifest)
    files: list[str] | None = None
    conf: object = None
    nbytes: int | None = None

    def size(self, columns: list[str]) -> float:
        """Estimated bytes of the view's projection to ``columns`` — the
        one size rule of cache admission and transfer ordering. Local
        views read the projection's plan stats (parquet footers, no job).
        A mapInArrow plan's own stats see only its task list, so remote
        views prorate the recorded bytes by columns; unknown bytes are ∞
        (never trusted as small: it may be a 100 TB corpus)."""
        if self.files is None:
            return _plan_size_bytes(self.df.select(*columns))
        if self.nbytes is None:
            return float("inf")
        return self.nbytes * len(columns) // len(self.df.columns)


class _RoutedQuery(NamedTuple):
    """One memoized cache routing of a caching/hybrid ``sql()`` call."""

    plain: DataFrame   # the unrouted resolution the routing was computed from
    # the routed re-resolution's analyzed plan (JVM LogicalPlan) — not the
    # DataFrame the caller ran, whose executed plan would keep its
    # broadcast relations and metrics alive for as long as the entry
    routed_plan: object
    # per routed view: (cache table key, columns, the _Entry serving them);
    # an _Entry belongs to one SegmentCacheManager, so finding the same
    # entries also proves the same manager
    requests: tuple


class Engine:
    def __init__(self, spark: SparkSession | None = None, data_dir: str | None = None):
        self.spark = apply_engine_confs(spark or get_spark())
        self.catalog: Catalog | None = None
        self._mode = "pushdown"
        self._segment_cache = None
        # Every view attach, attach_snapshot and attach_arrow_s3
        # registered, by name (the latest registration of a name wins):
        # the base tables of the predicate-transfer pass and the views
        # cache routing swaps. A view replaced or dropped by other means
        # stays here, and a query's plan shows it is no longer live (see
        # _view_columns). Remote entries keep their
        # file list, so arrow_s3_table_stats profiles a view with ZERO
        # further LIST RPCs (the attach's one LIST already named every
        # object), and their byte totals, without which a 100 TB remote
        # fact table would masquerade as broadcast-small.
        self._views: dict[str, _View] = {}
        # per-ENGINE predicate_transfer="auto" crossover (bytes/core):
        # an instance attribute so a caller tuning or force-flipping the
        # threshold (tests, the q5_auto certificate query) affects only
        # its own facade — mutating the module constant would race every
        # concurrent sql() on the session, breaking the documented
        # thread-safety contract
        self.auto_bytes_per_core = _AUTO_BYTES_PER_CORE
        # (query text, repr(args), mode) -> _RoutedQuery, least recently
        # used first; read and written only under _RESOLVE_LOCK
        self._route_memo: OrderedDict[tuple, _RoutedQuery] = OrderedDict()
        if data_dir is not None:
            self.attach(data_dir)

    @property
    def mode(self) -> str:
        return self._mode

    def set_mode(
        self,
        mode: str,
        cache_capacity_bytes: int | None = None,
        cache_policy: str | None = None,
    ) -> "Engine":
        """Switch the execution mode (see MODES above). Returns self.

        The segment cache survives pullup/pushdown interludes (routing is
        simply bypassed) so a hybrid → pushdown → hybrid sequence keeps
        its hot segments, matching the reference where the cache belongs
        to the server, not the query. Passing explicit cache parameters
        while a cache already exists REBUILDS it (clear + recreate —
        unpersisting its segments), since silently keeping the old
        capacity/policy would drop the caller's request on the floor; a
        partial override (only capacity, or only policy) keeps the other
        parameter from the existing cache. Omit both to keep the cache.
        For the same drop-nothing-on-the-floor reason, cache parameters
        with a non-caching mode are an error, not a silent no-op."""
        if mode not in MODES:
            raise ValueError(f"mode must be one of {MODES}, got {mode!r}")
        explicit = cache_capacity_bytes is not None or cache_policy is not None
        if explicit and mode not in ("caching", "hybrid"):
            raise ValueError(
                f"cache parameters apply only to caching/hybrid modes, "
                f"got mode={mode!r}"
            )
        enable = "true" if mode in ("pushdown", "hybrid") else "false"
        for conf in _PUSHDOWN_CONFS:
            self.spark.conf.set(conf, enable)
        if mode in ("caching", "hybrid") and (
            self._segment_cache is None or explicit
        ):
            old = self._segment_cache
            if old is not None:
                old.clear()
            self._segment_cache = SegmentCacheManager(
                self.spark,
                capacity_bytes=(
                    cache_capacity_bytes
                    if cache_capacity_bytes is not None
                    else (old.capacity if old is not None else 1 << 30)
                ),
                policy=(
                    cache_policy
                    if cache_policy is not None
                    else (old.policy if old is not None else "wlfu")
                ),
            )
        self._mode = mode
        return self

    def clear_segment_cache(self) -> None:
        """Unpersist every cached segment and drop the manager — the
        explicit lifecycle end for caching/hybrid work (benchmarks and
        registered queries MUST call this rather than dropping the Engine,
        or the materialized InMemoryRelations stay pinned in the shared
        session's CacheManager for its remaining lifetime)."""
        if self._segment_cache is not None:
            self._segment_cache.clear()
            self._segment_cache = None

    @property
    def _arrow_s3_tables(self) -> dict[str, _View]:
        """The remote views: what arrow_s3_table_stats can profile."""
        return {n: v for n, v in self._views.items() if v.files is not None}

    def attach(
        self, data_dir: str, validate: bool = True, reuse: bool = False
    ) -> "Engine":
        """Register every known table under ``data_dir`` as a temp view.

        Equivalent of Client::getCatalogueEntry (Client.cpp:118-132) — the
        declared schemas come from pysparkdb.catalog.DECLARED_SCHEMAS.

        ``reuse=True`` adopts the process-wide per-(session, data_dir)
        catalog (pysparkdb.catalog.cached_catalog) instead of re-reading
        ten parquet footers per attach — measured ~0.8-1 s per call, the
        dominant slice of every Engine-constructing certificate query
        (r15 optimization). Opt-in because the cached catalog pins the
        directory's file list from first registration: pass it only for
        immutable directories (the benchmark datasets); an attach after
        rewriting ``data_dir`` must keep the default rebuild."""
        if reuse:
            from pysparkdb.catalog import cached_catalog

            self.catalog = cached_catalog(self.spark, data_dir)
        else:
            self.catalog = Catalog(self.spark, data_dir).register_all(
                validate=validate)
        for name, df in self.catalog.tables.items():
            self._register(name, _View(df, self.catalog.data_dir))
        return self

    def _register(self, name: str, view: _View) -> None:
        """Record ``view`` under ``name``. If the name was registered
        before, the segments cached under its old origin are released:
        the data under an origin can change (a directory or prefix
        rewritten in place, a snapshot root rebuilt at the same path), and
        a later routing of the name must not be served stale rows."""
        old = self._views.get(name)
        if old is not None and self._segment_cache is not None:
            self._segment_cache.release(f"{name}@{old.origin}")
        self._views[name] = view

    def sql(
        self,
        query: str,
        predicate_transfer: bool | str = False,
        args: dict | list | None = None,
        mode: str | None = None,
    ) -> DataFrame:
        """SQL → DataFrame (Client::executeQuery analog; lazy, not collected).

        ``args`` are bound parameters — named (``:name`` markers with a
        dict) or positional (``?`` markers with a list) — resolved by
        Spark's parameterized-SQL binder, NOT string interpolation: values
        bind as typed literals after parsing, so a client-supplied string
        can never splice into the query text (the injection-safety a
        SQL-serving endpoint needs; beyond the reference, whose Calcite
        front door takes only literal SQL).

        ``predicate_transfer=True`` applies the reference's CIDR-2024
        pre-pass (PrePToPTransformerForPredTrans.cpp, enabled by its
        exec.conf PRED_TRANS flag): the join graph is extracted from the
        query's own analyzed plan (JoinOriginTracer analog), every live
        registered view the query reads is semi-join-reduced across it,
        and the SAME query text is re-resolved against the reduced
        relations. Purity
        invariant: semi joins only remove rows that cannot survive the
        query's own joins, so results are identical (engine-level test in
        tests/test_plans.py). Worth turning on for multi-hop-selective
        join queries; the pass costs one broadcast semi join per edge —
        see SCALE.md for the measured crossover.

        ``predicate_transfer="auto"`` makes that call cost-based: the pass
        runs only when the largest joined table's plan-stat size clears
        the measured per-core crossover (``_AUTO_BYTES_PER_CORE`` ×
        defaultParallelism), so small/interactive queries keep the plain
        plan and shuffle-dominated fact queries get the reduction — the
        third mode the reference lacks (its PRED_TRANS flag is all-or-
        nothing per server config).

        ``mode`` switches the execution mode for THIS and subsequent calls
        (``set_mode`` semantics — session-scoped, like the reference's
        exec.conf MODE): in ``"caching"``/``"hybrid"`` the attached views
        (catalog tables, snapshot pins, remote attaches) are routed through
        the SegmentCacheManager (the columns of each view the query text
        references become a cached segment; repeat queries over ⊆ columns
        serve from memory), in ``"pullup"``
        the scan-pushdown confs are disabled. Cache routing applies to the
        plain resolution path; when ``predicate_transfer`` is also set the
        transfer pass wins and routing is skipped (caching semi-join-
        reduced relations would poison the segment keys). A repeated
        (text, args, mode) reuses its earlier routing through a bounded
        memo, only while its plain resolution is semantically unchanged
        and every segment it was routed to still serves it; this is not
        a result cache — each call gets a fresh DataFrame that plans and
        runs its own jobs (see ``_route_views_through_cache``).

        Thread-safe: concurrent ``sql()`` calls (either mode, any Engine
        over this session) are safe — resolution is serialized under
        ``_RESOLVE_LOCK`` so the transfer pass's view swap can never leak
        into another call's analysis; execution parallelism is untouched
        (the lock is released before any job runs).

        Both passes take their view facts from one walk of the query's
        analyzed plan (``_view_columns``): which registered views it
        reads, whether each is still the registered plan, and which of
        its columns it references. A view replaced or dropped by other
        means is neither reduced nor routed."""
        if mode is not None:
            # always re-apply, even when mode == self._mode: the confs are
            # SESSION-global and another Engine over this session (whose
            # __init__ re-applies the pushdown defaults) may have reset
            # them since; set_mode is idempotent and costs a few conf sets
            self.set_mode(mode)
        if isinstance(predicate_transfer, str) and predicate_transfer != "auto":
            # a typo'd mode string must not silently pay the full
            # unconditional pass (the regression auto exists to prevent)
            raise ValueError(
                f"predicate_transfer must be True, False or 'auto', "
                f"got {predicate_transfer!r}"
            )
        df = self._resolve_with_views(query, args, {})
        if not predicate_transfer:
            if self._mode in ("caching", "hybrid") and self._views:
                return self._route_views_through_cache(df, query, args)
            return df
        # The transferable tables: the live registered views this query
        # reads, of every kind — the local catalog, local pinned-snapshot
        # views and the remote attaches (the reference applies its
        # pre-pass to S3-backed tables in the first place). Identical
        # schemas between two of them fall to extract_join_edges'
        # ambiguity exclusion (no edge, never a wrong reduction); a table
        # the query does not read cannot make one ambiguous.
        from pysparkdb.plans.predicate_transfer import (
            extract_join_edges,
            predicate_transfer as _transfer,
        )

        reads = {n: v for n, (v, _) in self._view_columns(df).items()}
        base_tables = {n: v.df for n, v in reads.items()}
        edges = extract_join_edges(df, base_tables)
        if not edges:
            return df
        sizes = {n: reads[n].size(reads[n].df.columns)
                 for e in edges for n in (e.left, e.right)}
        if predicate_transfer == "auto":
            cores = self.spark.sparkContext.defaultParallelism
            if max(sizes.values()) < self.auto_bytes_per_core * cores:
                return df  # below the measured crossover: plain plan wins
        reduced = _transfer(base_tables, edges, sizes=sizes)
        return self._resolve_with_views(query, args, {
            n: rdf for n, rdf in reduced.items() if rdf is not base_tables[n]})

    def _resolve_with_views(
        self, query: str, args: dict | list | None, views: dict[str, DataFrame]
    ) -> DataFrame:
        """Resolve the text with each named registered view swapped for
        the given plan, then restore each name to its registered plan.
        Temp views are swapped only while spark.sql() analyzes the string
        (resolution happens at creation; the returned DataFrame keeps its
        plan), atomically w.r.t. every other sql() resolution. Only live
        views may be swapped: restoring a view replaced by other means
        would silently resurrect the registered plan."""
        with _RESOLVE_LOCK:
            try:
                for name, vdf in views.items():
                    vdf.createOrReplaceTempView(name)
                return (self.spark.sql(query, args=args) if args
                        else self.spark.sql(query))
            finally:
                for name in views:
                    self._views[name].df.createOrReplaceTempView(name)

    def _view_columns(self, df: DataFrame) -> dict[str, tuple[_View, set]]:
        """Per live registered view the query reads: the view, and the
        columns of it the query text references — the working set cache
        routing projects and the base tables of predicate transfer. One
        walk of the ANALYZED plan, for every kind: a temp view resolves to
        SubqueryAlias(name, View(child)), and a registered name is live
        when that child sameResults the registered plan (re-selecting the
        registered DataFrame keeps it live; a replacement by other means
        does not, and its name is left out even where its body reads the
        registered plan). At a live view the output is recorded and the
        body is not entered (a catalog view's own timestamp-cast Project
        would otherwise reference every column). Subquery-expression plans
        are walked too, so a view used both outside and inside a subquery
        keeps the columns only the subquery reads. The working set is the
        view-output attributes any operator references or the query
        returns; it is empty for a view only counted."""
        analyzed = df._jdf.queryExecution().analyzed()
        used_ids: set[int] = set()
        out = analyzed.output()
        for i in range(out.size()):
            used_ids.add(out.apply(i).exprId().id())
        reads: dict[str, tuple[_View, list[tuple[str, int]]]] = {}
        stale: set[str] = set()

        def walk(node):
            refs = node.references().iterator()
            while refs.hasNext():
                used_ids.add(refs.next().exprId().id())
            # a temp view resolves to SubqueryAlias(name, View(...)); a
            # query alias or CTE of the same name has another child
            if (node.getClass().getSimpleName() == "SubqueryAlias"
                    and node.child().getClass().getSimpleName() == "View"):
                name = node.alias()
                view = self._views.get(name)
                if view is not None and node.child().child().sameResult(
                        view.df._jdf.queryExecution().analyzed()):
                    o = node.output()
                    reads.setdefault(name, (view, []))[1].extend(
                        (o.apply(i).name(), o.apply(i).exprId().id())
                        for i in range(o.size()))
                    return
                stale.add(name)
            for plans in (node.children(), node.subqueries()):
                for i in range(plans.size()):
                    walk(plans.apply(i))

        walk(analyzed)
        return {name: (view, {c for c, eid in pairs if eid in used_ids})
                for name, (view, pairs) in reads.items() if name not in stale}

    def _route_views_through_cache(
        self, df: DataFrame, query: str, args: dict | list | None
    ) -> DataFrame:
        """CACHING_ONLY / HYBRID scan routing (CacheLoadPOp.cpp analog):
        swap each live registered view the query reads — catalog table,
        snapshot pin or remote attach — for its SegmentCacheManager
        projection over the columns THIS query's text references (both
        facts from ``_view_columns``), re-resolve the same text, restore
        the views (``_resolve_with_views``). A first-seen working set
        admits (miss: the load obeys the session's pushdown confs — off in
        caching mode, on in hybrid); repeats and subset requests serve
        from the InMemoryRelation. A call after ``clear_segment_cache``
        gets a new manager, as ``set_mode`` makes one.

        Remote views (attach_arrow_s3, attach_snapshot of an S3Root)
        route through the SAME cache — the reference's hybrid economics
        (hot columns cached compute-side, cold pushed to storage:
        PrePToS3PTransformer.cpp:309-461) apply to actual remote data,
        which is where a segment cache pays for itself at 100 TB: a
        cached segment turns repeat object-store GET + decode into an
        in-memory columnar read. Admission is sized by ``_View.size``; a
        legacy remote attach of UNKNOWN bytes is served uncached rather
        than admitted blind — an unsized admission could pin a
        corpus-scale segment.

        Routing memo: a repeat of the same (text, args, mode) skips the
        walk, the projections and the view-swap re-resolution. The caller
        still resolves the text plainly, and the memoized routing is used
        only when (1) that plain resolution ``sameSemantics`` the one the
        routing was computed from — views, relations, bound literals,
        functions and analysis-time confs unchanged — and (2) every
        recorded cache request is still served by the identical entry of
        the same manager. The hit then replays the requests' cache
        accounting and returns a NEW DataFrame over the routed analyzed
        plan, with its own QueryExecution: the memo is not a result
        cache, every call optimizes, plans and runs its own jobs. A
        failed check touches no counter and routes in full, which
        re-records. Only a full routing whose every request landed in the
        cache is recorded (never a routing that routed nothing); the memo
        is bounded (``_ROUTE_MEMO_SIZE``, least recently used out) and
        held under ``_RESOLVE_LOCK``. It is never flushed: an attach, a
        re-pin or a cache rebuild fails check (2) for exactly the routings
        that read a replaced name (``_register`` releases its segments)
        or used the old manager, and leaves the others valid."""
        key = (query, repr(args), self._mode)
        # One lock region for check, replay and full routing: a concurrent
        # routing must not admit or evict between a memo's validation and
        # its replay, nor between a full routing's requests and its record.
        with _RESOLVE_LOCK:
            if self._segment_cache is None:
                self.set_mode(self._mode)
            cache = self._segment_cache
            memo = self._route_memo.get(key)
            if (memo is not None
                    and all(cache.serving(t, cols) is e
                            for t, cols, e in memo.requests)
                    and df.sameSemantics(memo.plain)):
                for _, _, e in memo.requests:
                    cache.count_hit(e)
                self._route_memo.move_to_end(key)
                return DataFrame(
                    self.spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                        self.spark._jsparkSession, memo.routed_plan),
                    self.spark)
            routed, requests = self._route_full(df, query, args)
            if requests:
                self._route_memo[key] = _RoutedQuery(
                    df, routed._jdf.queryExecution().analyzed(), requests)
                self._route_memo.move_to_end(key)
                while len(self._route_memo) > _ROUTE_MEMO_SIZE:
                    self._route_memo.popitem(last=False)
            return routed

    def _route_full(
        self, df: DataFrame, query: str, args: dict | list | None
    ) -> tuple[DataFrame, tuple | None]:
        """The routing itself (see _route_views_through_cache): the routed
        DataFrame, plus its cache requests when it may be memoized —
        None when nothing was routed and for a routing in which any
        request did not land in (or was evicted from) the cache."""
        cache = self._segment_cache
        routed: dict[str, DataFrame] = {}
        requests: list[tuple] = []
        for name, (view, cols) in self._view_columns(df).items():
            # Project in the view's DECLARED column order (cache identity
            # is canonicalized inside project(), which sorts its key): a
            # sorted projection would make SELECT * return alphabetized
            # columns in caching/hybrid modes — the mode axis must never
            # change a result, including schema order.
            want = [c for c in view.df.columns if c in cols]
            if not want:
                continue
            table = f"{name}@{view.origin}"
            # a miss is admitted at the view's size; an unknown size (a
            # legacy remote attach) is served uncached, not admitted blind
            size = None if cache.serving(table, want) else view.size(want)
            if size == float("inf"):
                continue
            routed[name] = cache.project(view.df, table, want, size_hint=size)
            requests.append((table, want, cache.serving(table, want)))
        if not routed:
            return df, None
        out = self._resolve_with_views(query, args, routed)
        # an admission may have evicted an entry an earlier request of this
        # query was served by; such a routing is served but not recorded
        if any(e is None or cache.serving(t, cols) is not e
               for t, cols, e in requests):
            return out, None
        return out, tuple(requests)

    def table(self, name: str) -> DataFrame:
        assert self.catalog is not None, "call attach(data_dir) first"
        return self.catalog.table(name)

    def attach_snapshot(
        self, name: str, root, version: int | str | None = None,
        replace: bool = False,
    ) -> DataFrame:
        """Register a snapshot (sources/versioned.py) pinned at ``version``
        (default latest; a string is a tag name) as a queryable view —
        time travel through the same SQL front door, for a local root or
        an ``S3Root``: ``engine.attach_snapshot("docs", root, version=3)``
        then ``engine.sql("SELECT ... FROM docs")`` reads exactly version
        3's manifest, frozen while ingest appends new versions. The view,
        its version and its cache origin (``root@vN``, ``uri@vN``) come
        from ONE manifest read, so a concurrent append can never make
        them name different versions (two pins of one root at different
        versions must never share a cached segment). A version whose
        manifest lists no files (an all-rows-erased rewrite) registers as
        the EMPTY view under its recorded schema. Local views are sized by
        their plan stats; remote views record the manifest's object list
        (arrow_s3_table_stats profiles it with no LIST) and byte total.
        Shadowing an already-registered view refuses without
        ``replace=True`` — the same session-catalog guard as
        attach_arrow_s3: silently repointing every registered query at
        the snapshot is the exact suite-poisoning bug the guard exists
        for (re-pinning the same name at another version is the
        legitimate replace=True case)."""
        from pysparkdb.sources.arrow_s3 import S3Root
        from pysparkdb.sources.versioned import _frame, _pinned, _store

        if not replace and self.spark.catalog.tableExists(name):
            raise ValueError(
                f"attach_snapshot({name!r}) would replace an "
                f"already-registered view; pass replace=True to do this "
                f"deliberately (no view was touched)")
        store = _store(root)
        version, m = _pinned(store, version)
        df = _frame(self.spark, store, version, m)
        view = _View(df, f"{store.name}@v{version}")
        if isinstance(root, S3Root):
            view = view._replace(files=[store.path(f) for f in m["files"]],
                                 conf=root.conf, nbytes=m.get("bytes"))
        df.createOrReplaceTempView(name)
        self._register(name, view)
        return df

    def attach_arrow_s3(
        self, prefix: str, conf, replace: bool = False
    ) -> dict[str, DataFrame]:
        """Register every parquet table under an object-store prefix as a
        temp view through the JAR-LESS arrow_s3 scan path — the
        Client::getCatalogueEntry front door for environments without the
        hadoop-aws jars (sources/arrow_s3.py; the s3a path uses
        ``attach()`` on an s3a:// URI instead). Discovery is ONE LIST —
        literally: the listing's paths group by their first segment under
        the prefix (``<prefix>/<table>.parquet/part-*.parquet`` layouts
        and single ``<prefix>/<table>.parquet`` objects both resolve to
        view ``<table>``) and each table's reader plans that EXPLICIT
        file list, so attach issues no per-table re-LIST (at N tables on
        real S3 that is N billable round-trips saved). A name backed by
        TWO DISTINCT physical segments raises — whether flat-vs-dir
        (``nation.parquet`` object next to ``nation/`` directory) or
        dir-vs-dir (``nation/`` next to ``nation.parquet/``): silently
        unioning two layouts' files into one view is the partial-/mixed-
        data bug this guard exists for. The SAME principle extends to
        the session catalog: a derived name that would shadow an
        ALREADY-REGISTERED view (a local table attached via
        ``attach()``, an earlier snapshot pin, anything) raises before
        any view is touched — silently repointing every registered
        query at the remote store is a worse bug than the intra-attach
        merge. Pass ``replace=True`` to clobber deliberately (e.g. a
        re-attach of the same prefix to refresh the file list). Returns
        {table: DataFrame}. After this, ``engine.sql()`` runs the full
        registered query surface against the remote store —
        executor-side GETs, pruned decode."""
        from pysparkdb.sources.arrow_s3 import (
            _read_parquet_files,
            _strip_scheme,
            arrow_s3_list,
        )

        base = _strip_scheme(prefix).rstrip("/")
        groups: dict[str, list[str]] = {}
        # The collision key is the PHYSICAL first segment (+ flat/dir
        # shape), not just the derived view name: <prefix>/nation/ and
        # <prefix>/nation.parquet/ are distinct directories that both
        # derive view 'nation' — keying on name alone would silently
        # union their files into one view (late schema errors, or worse,
        # a same-schema wrong-rows merge).
        origins: dict[str, tuple[str, str]] = {}
        sizes: dict[str, int] = {}
        for path, sz in arrow_s3_list(conf, base):
            rel = path[len(base) + 1:]
            seg = rel.split("/", 1)[0]
            name = seg.removesuffix(".parquet")
            shape = "dir" if "/" in rel else "flat"
            origin = (seg, shape)
            if origins.setdefault(name, origin) != origin:
                prev_seg, prev_shape = origins[name]
                raise ValueError(
                    f"table name {name!r} is backed by two distinct "
                    f"layouts under {prefix!r}: "
                    f"{prev_seg!r} ({prev_shape}) and {seg!r} ({shape}); "
                    f"attach would silently merge their files into one "
                    f"view — rename one")
            groups.setdefault(name, []).append(path)
            sizes[name] = sizes.get(name, 0) + sz
        if not replace:
            shadowed = sorted(
                n for n in groups if self.spark.catalog.tableExists(n))
            if shadowed:
                raise ValueError(
                    f"attach_arrow_s3({prefix!r}) would replace "
                    f"already-registered view(s) {shadowed} — every query "
                    f"resolving those names would silently repoint at the "
                    f"remote store; pass replace=True to do this "
                    f"deliberately (no view was touched)")
        out: dict[str, DataFrame] = {}
        for name, files in sorted(groups.items()):
            df = _read_parquet_files(self.spark, sorted(files), conf)
            df.createOrReplaceTempView(name)
            self._register(name, _View(
                df, f"{prefix}/{name}", sorted(files), conf, sizes[name]))
            out[name] = df
        return out

    def arrow_s3_table_stats(
        self, name: str, columns=None, assume_no_nan: bool = False
    ) -> DataFrame:
        """COUNT/MIN/MAX/null-count over an attached remote view answered
        from parquet FOOTER statistics — zero data-page GETs and zero
        further LIST RPCs (the attach's one LIST already named every
        object; this plans exactly that file list). The engine front
        door for the profile pass a user runs before touching a remote
        corpus — the client-side twin of the reference's storage-side
        separable aggregate (SeparableTraits.cpp:13-36) on the jar-less
        tier; the DSv2/s3a tier gets the same via Spark's own
        PushedAggregation (op_agg_pushdown). Returns the one-row frame
        arrow_s3_scan_stats documents, with its per-column exactness
        rules (no filters; string/binary, ns-timestamp and — unless
        ``assume_no_nan`` — float/double columns get rows+nulls only,
        their min/max omitted)."""
        if name not in self._arrow_s3_tables:
            raise KeyError(
                f"{name!r} is not an attach_arrow_s3 view on this engine "
                f"(attached: {sorted(self._arrow_s3_tables) or 'none'})")
        from pysparkdb.sources.arrow_s3 import _scan_stats_files

        attached_df, _, files, conf, _ = self._arrow_s3_tables[name]
        # the file list certifies the ATTACHED plan; if the session view
        # was replaced since (another attach, createOrReplaceTempView by
        # other means, a dropped-and-recreated table), profiling the old
        # list would report stats for objects that no longer back the
        # name — stale answers dressed as certified ones, so refuse
        try:
            current = self.spark.table(name)
            same = current.sameSemantics(attached_df)
        except Exception:
            same = False
        if not same:
            raise KeyError(
                f"view {name!r} no longer resolves to the plan "
                f"attach_arrow_s3 registered (it was replaced or dropped "
                f"since) — re-attach before profiling")
        if not files:
            # an all-rows-erased pinned version: the profile is exact by
            # construction (0 rows, 0 nulls, NULL min/max) and costs zero
            # GETs — same column shape as the footer path, so a caller
            # profiling the same table across the erasure terminal state
            # reads one schema. Eligibility mirrors the footer path's
            # _stats_minmax_eligible over the attached schema's arrow
            # types (string/binary and — unless assume_no_nan —
            # float/double get rows+nulls only). One honest caveat: the
            # attached schema is Spark-side (timestamps are µs), so a
            # source column that WAS ns-timestamp parquet — which the
            # footer path refuses min/max for — is indistinguishable once
            # every file is erased; its NULL min/max here certify the
            # attached view's type, which is all that remains.
            from pyspark.sql import functions as F
            from pyspark.sql.pandas.types import to_arrow_type

            from pysparkdb.sources.arrow_s3 import _stats_minmax_eligible

            fields = {f.name: f.dataType for f in attached_df.schema.fields}
            bad = [c for c in (columns or []) if c not in fields]
            if bad:
                raise ValueError(f"column {bad[0]!r} not in parquet schema")
            sel = [F.lit(0).cast("long").alias("rows")]
            for c in (columns or []):
                t = fields[c]
                if _stats_minmax_eligible(
                        to_arrow_type(t), assume_no_nan) is None:
                    sel += [F.lit(None).cast(t).alias(f"{c}_min"),
                            F.lit(None).cast(t).alias(f"{c}_max")]
                sel.append(F.lit(0).cast("long").alias(f"{c}_nulls"))
            return self.spark.range(1).select(*sel)
        return _scan_stats_files(
            self.spark, files, conf, columns=columns,
            assume_no_nan=assume_no_nan)

    def register_function(
        self, name, fn, return_type, vectorized: bool = True, replace: bool = False
    ):
        """Register a user-defined scalar function for use in ``sql()`` —
        the UDF surface the reference lacks entirely (SURVEY §2.10: Calcite
        would not serialize one). Deliberately the LAST resort: everything
        in this engine's own registry compiles to built-in Catalyst
        expressions, and the docstring contract is that a UDF enters a
        query only when no built-in composition can express the semantics.

        ``vectorized=True`` (the default, and the only shape that belongs
        anywhere near a hot path) wraps ``fn`` as an Arrow-batched pandas
        UDF: ``fn`` receives and returns ``pandas.Series``, amortizing the
        Python boundary over whole record batches (~10-100× the
        row-at-a-time form). ``vectorized=False`` registers the plain
        row-at-a-time Python UDF for quick non-performance-critical glue.
        Either way the function becomes callable from SQL text AND from
        the returned Column-producing handle.

        At 100 TB: a pandas UDF still serializes every batch across the
        JVM↔Python boundary — scan-dominant stages should stay built-in;
        reserve this for genuinely opaque logic (model scoring, custom
        codecs) and budget the extra cores Python workers occupy.

        Name collisions raise: ``spark.udf.register`` would silently
        shadow a Spark built-in (a UDF named ``abs`` hijacks every
        subsequent ``sql()`` on the shared session) or clobber a prior
        registration. Pass ``replace=True`` to overwrite deliberately
        (re-registering the same logical function across engine
        restarts is the legitimate case)."""
        if not replace and self.spark.catalog.functionExists(name):
            raise ValueError(
                f"function {name!r} already exists (Spark built-in or prior "
                f"registration) and would be silently shadowed session-wide; "
                f"pass replace=True to overwrite deliberately"
            )
        if vectorized:
            from pyspark.sql.functions import pandas_udf

            udf = pandas_udf(fn, return_type)
        else:
            from pyspark.sql.functions import udf as _udf

            udf = _udf(fn, return_type)
        self.spark.udf.register(name, udf)
        return udf

    def explain(self, query_or_df, mode: str = "formatted") -> str:
        """Physical-plan text for a SQL string or DataFrame — the
        SHOW_OP_TIMES-style introspection surface (exec.conf:7-8)."""
        from pysparkdb.plans.pushdown import explain_str

        df = self.sql(query_or_df) if isinstance(query_or_df, str) else query_or_df
        return explain_str(df, mode)

    def scan_audit(self, query_or_df) -> dict:
        """Scan-efficiency audit before running at scale: filters that
        reached the scan, columns actually read, codegen stage count —
        the SHOW_SCAN_METRICS analog (bytes-read evidence lives in the
        same plan nodes)."""
        from pysparkdb.plans.pushdown import (
            codegen_stage_count,
            pushed_filters,
            read_schema,
        )

        df = self.sql(query_or_df) if isinstance(query_or_df, str) else query_or_df
        return {
            "pushed_filters": pushed_filters(df),
            "read_columns": read_schema(df),
            "codegen_stages": codegen_stage_count(df),
        }
