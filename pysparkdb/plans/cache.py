"""Segment-cache-inspired projection cache manager.

The reference caches (partition × column) segments in local memory with
pluggable admission/eviction policies — LRU, LFU, LFU-S (size-normalized),
W-LFU (benefit-weighted) — behind a CachingPolicy interface
(/root/reference/fpdb-cache/include/fpdb/cache/policy/CachingPolicy.h:29-95),
and its hybrid scan routes cache hits around the pushdown scan
(CacheLoadPOp.cpp, PrePToS3PTransformer.cpp:309-461).

Spark's natural cache granule is a *column-pruned projection* of a table
(an InMemoryRelation): caching `lineitem[l_shipdate, l_extendedprice,
l_discount, l_quantity]` serves every query touching only those columns —
the reference's segment = (partition, column) granularity falls out of
Spark's per-partition cached batches automatically. This manager owns the
admit/evict decisions Spark leaves to the user:

- LRU / LFU: classic recency/frequency over segment keys.
- LFU-S: frequency normalized by size (small hot segments beat big warm
  ones — fpdb-cache/include/fpdb/cache/policy/LFUSCachingPolicy.h).
- W-LFU: frequency weighted by estimated recompute cost (bytes scanned —
  the reference weighs by network/scan time, Globals.h:23-32).
- Belady: oracle policy — evict the entry whose *next* use is farthest in
  a caller-supplied future access schedule
  (fpdb-cache/include/fpdb/cache/policy/BeladyCachingPolicy.h); the
  reference uses it as the offline upper bound in caching benches.

Catalyst then substitutes cached projections automatically: any query whose
column set ⊆ a cached projection's columns reuses the InMemoryRelation via
plan-fragment matching (the CACHING_ONLY / HYBRID mode analog: hits serve
from memory, misses fall through to the parquet scan with pushdown).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class _Entry:
    df: DataFrame
    columns: tuple[str, ...]
    size_bytes: int
    hits: int = 0
    last_access: float = 0.0


def _plan_size_bytes(df: DataFrame) -> int:
    """Optimizer-estimated size of a plan — free (no job), from parquet
    footers / plan stats; the stats.json role in the reference."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


class SegmentCacheManager:
    """Column-projection cache with LRU / LFU / W-LFU policies."""

    POLICIES = ("lru", "lfu", "lfus", "wlfu", "belady")

    def __init__(
        self,
        spark: SparkSession,
        capacity_bytes: int = 1 << 30,
        policy: str = "lru",
        future: list[tuple[str, tuple[str, ...]]] | None = None,
    ):
        if policy not in self.POLICIES:
            raise ValueError(f"policy {policy!r} not in {self.POLICIES}")
        if policy == "belady" and future is None:
            raise ValueError("belady policy needs the future access schedule")
        self.spark = spark
        self.capacity = capacity_bytes
        self.policy = policy
        self.entries: dict[tuple[str, tuple[str, ...]], _Entry] = {}
        self.used = 0
        self.hit_count = 0
        self.miss_count = 0
        # Belady oracle state: the known future request sequence and a
        # cursor advanced on every project() call. Column tuples are
        # normalized exactly as project() normalizes its key (sorted), so
        # a caller listing columns in request order still matches.
        self._future = [(t, tuple(sorted(c))) for t, c in (future or [])]
        self._clock = 0
        # entries that must survive the current admission (project_zip
        # pins its partial-hit entry while admitting the miss side)
        self._pinned: set[tuple[str, tuple[str, ...]]] = set()

    # -- policy scoring: lower score evicts first ---------------------------
    def _score(self, e: _Entry, key: tuple[str, tuple[str, ...]] | None = None) -> float:
        if self.policy == "lru":
            return e.last_access
        if self.policy == "lfu":
            return float(e.hits)
        if self.policy == "lfus":
            return e.hits / max(e.size_bytes, 1)  # size-normalized frequency
        if self.policy == "belady":
            # farthest-next-use evicts first → score = -distance to next
            # use. An entry is "used" by a future request it can SERVE:
            # a subset request full-covers (project's _covering hit), and
            # ANY column overlap can serve as project_zip's partial hit
            # side — requiring full cover here would score zip-side
            # entries -inf and evict exactly what the next scheduled
            # request was about to zip from. Overlap slightly over-credits
            # (which partial actually wins depends on runtime state the
            # oracle cannot replay), an acceptable bias for an offline
            # upper-bound policy.
            assert key is not None
            table, cols = key
            for i in range(self._clock, len(self._future)):
                ft, fc = self._future[i]
                if ft == table and set(fc) & set(cols):
                    return -float(i)
            return float("-inf")  # never used again → best victim
        return e.hits * max(e.size_bytes, 1)  # wlfu: frequency × recompute cost

    def project(
        self, df: DataFrame, table: str, columns: list[str],
        size_hint: int | None = None,
    ) -> DataFrame:
        """Serve a column projection through the cache.

        Hit: the exact (table, columns) projection — or a cached superset
        projection — is returned (Catalyst reuses the InMemoryRelation for
        subset column requests too). Miss: the projection is admitted if it
        fits after policy-ordered eviction, then returned; if it cannot fit
        it is returned uncached (pullup path). ``size_hint`` overrides the
        optimizer plan-stat estimate for admission accounting — required
        for plans whose stats don't see the data they move (a mapInArrow
        remote scan's stats cover only its task list).
        """
        entry = self.serving(table, columns)
        if entry is not None:
            self.count_hit(entry)
            return entry.df.select(*columns)

        key = (table, tuple(sorted(columns)))
        now = time.monotonic()
        self._clock += 1
        if not self._pinned:  # inside project_zip the outer call counted
            self.miss_count += 1
        proj = df.select(*columns)
        size = size_hint if size_hint is not None else _plan_size_bytes(proj)
        if self._admit(size):
            proj = proj.cache()
            self.entries[key] = _Entry(proj, key[1], size, hits=1, last_access=now)
            self.used += size
        return proj

    def serving(self, table: str, columns: list[str]) -> _Entry | None:
        """The entry a ``project(table, columns)`` call would hit right
        now — the exact projection or the first cached superset — or None
        when the call would miss. Reads no counter and moves no state."""
        key = (table, tuple(sorted(columns)))
        return self.entries.get(key) or self._covering(table, key[1])

    def count_hit(self, entry: _Entry) -> None:
        """The accounting of one request served by ``entry``: exactly what
        a ``project()`` hit records (the Belady clock, the entry's
        frequency and recency, the manager's hit counter). Callers that
        already hold the served projection — the engine's routing memo —
        replay their requests through this."""
        self._clock += 1
        entry.hits += 1
        entry.last_access = time.monotonic()
        if not self._pinned:  # inside project_zip the outer call counted
            self.hit_count += 1

    def project_zip(
        self, df: DataFrame, table: str, columns: list[str],
        key: str | list[str],
    ) -> DataFrame:
        """Column-granule hybrid merge — the reference MergeKernel's
        column-zip of cache hits with scanned misses
        (fpdb-executor/src/physical/merge/MergeKernel.cpp:122, wired by
        PrePToS3PTransformer.cpp:347-396), in its distributed-correct
        Spark form.

        When a cached projection covers SOME of the requested columns, the
        hit columns are served from the InMemoryRelation and ONLY the miss
        columns (plus ``key``) are scanned from storage — Catalyst prunes
        the parquet scan to exactly that ReadSchema (asserted in
        tests/test_plans.py) — then the two sides are zipped with an
        equi-join on ``key``. The reference zips by tuple index inside one
        storage partition; Spark has no tuple identity that is stable
        across separate scans of a distributed source, so the zip key must
        be a DECLARED unique key — a single column or a composite (e.g.
        lineitem's (l_orderkey, l_linenumber)). The join is 1:1 by that
        contract, and at scale it is one co-partitioned shuffle of
        (key + miss columns) — strictly less I/O than re-reading every
        column whenever the cached projection is one column short.

        Full cover / no cover degrade to the plain ``project`` paths (one
        hit or one miss); the scanned miss projection is admitted through
        the normal policy so repeats of the same request become full hits.
        """
        keys = [key] if isinstance(key, str) else list(key)
        if not keys:
            # enforce the documented contract BEFORE any cache state
            # mutates — an empty key would otherwise crash deep inside
            # DataFrame.join after hits/admissions already counted
            raise ValueError("project_zip needs a non-empty zip key")
        want = [c for c in columns if c not in keys]
        found = self._best_partial(table, want, keys)
        if found is None:
            return self.project(df, table, columns)
        entry_key, entry = found
        hit_cols = [c for c in want if c in entry.columns]
        # _best_partial guarantees at least one wanted column is missing
        # (a full cover is a plain project() hit), so miss_cols is
        # never empty here
        miss_cols = [c for c in want if c not in entry.columns]

        entry.hits += 1
        entry.last_access = time.monotonic()
        # Stats: ONE request, one counter — the partial hit counts here;
        # the nested project() suppresses its own counters while an entry
        # is pinned (it is the same user request, and counting its miss
        # side too would double-count and skew hit_ratio()).
        self.hit_count += 1
        hit_side = entry.df.select(*keys, *hit_cols)
        # Pin the partial-hit entry while the miss side is admitted: the
        # admission's eviction loop must not select the very entry being
        # zipped (that would silently turn the "cached hit side" into a
        # full recompute of the evicted projection).
        self._pinned.add(entry_key)
        try:
            miss_side = self.project(df, table, keys + miss_cols)
        finally:
            self._pinned.discard(entry_key)
        return hit_side.join(miss_side, on=keys).select(*columns)

    def _best_partial(
        self, table: str, want: list[str], keys: list[str]
    ) -> tuple[tuple[str, tuple[str, ...]], _Entry] | None:
        """The (key, entry) covering the most requested columns — it must
        also hold every ``keys`` column (no zip handle otherwise) and at
        least one wanted column, but not all of them (that is a plain
        hit)."""
        best, best_cover = None, 0
        for (t, cols), e in self.entries.items():
            if t != table or not set(keys) <= set(cols):
                continue
            cover = len(set(want) & set(cols))
            if cover > best_cover and not set(want) <= set(cols):
                best, best_cover = ((t, cols), e), cover
        return best

    def _covering(self, table: str, columns: tuple[str, ...]) -> _Entry | None:
        want = set(columns)
        for (t, cols), e in self.entries.items():
            if t == table and want <= set(cols):
                return e
        return None

    def _admit(self, size: int) -> bool:
        if size > self.capacity:
            return False
        while self.used + size > self.capacity:
            candidates = [k for k in self.entries if k not in self._pinned]
            if not candidates:
                return False  # only pinned entries left: don't admit
            victim_key = min(
                candidates, key=lambda k: self._score(self.entries[k], k)
            )
            self._evict(victim_key)
        return True

    def _evict(self, key: tuple[str, tuple[str, ...]]) -> None:
        e = self.entries.pop(key)
        e.df.unpersist()
        self.used -= e.size_bytes

    def release(self, table: str) -> None:
        """Evict every segment cached for ``table`` (the engine's
        ``name@origin`` key) — the data behind the key was replaced."""
        for key in [k for k in self.entries if k[0] == table]:
            self._evict(key)

    def hit_ratio(self) -> float:
        """getCrtQueryHitRatio analog (reference TestUtil.cpp:404-406)."""
        total = self.hit_count + self.miss_count
        return self.hit_count / total if total else 0.0

    def clear(self) -> None:
        for key in list(self.entries):
            self._evict(key)
