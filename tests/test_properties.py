"""Property-based equivalence tests for the custom operators.

Each custom operator has a brute-force reference semantics; Hypothesis
drives randomized inputs (including ties, duplicates, empties) and the
operator must agree exactly. One shared SparkSession; small row counts
keep each example sub-second.
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pysparkdb.operators import as_of_join, salted_group
from pysparkdb.operators.rangejoin import range_interval_join

KEYS = st.integers(min_value=0, max_value=3)
TS = st.integers(min_value=-50, max_value=50)  # ties + pre-1970 epochs
VALS = st.integers(min_value=-100, max_value=100)

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(rows=st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=30))
@settings(**_SETTINGS)
def test_salted_group_equals_plain_group(spark, rows):
    if not rows:
        return
    df = spark.createDataFrame(rows, "k long, v long")
    plain = {
        (r.k, r.s, r.n)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r.k, r.s, r.n)
        for r in salted_group(
            df,
            ["k"],
            partial_aggs={"ps": F.sum("v"), "pn": F.count(F.lit(1))},
            aggs={"s": F.sum("ps"), "n": F.sum("pn")},
            salt_buckets=4,
        ).collect()
    }
    assert salted == plain


@given(
    left=st.lists(st.tuples(KEYS, TS), min_size=0, max_size=15),
    right=st.lists(st.tuples(KEYS, TS), min_size=0, max_size=15),
)
@settings(**_SETTINGS)
def test_range_join_equals_naive_theta(spark, left, right):
    if not left or not right:
        return
    max_gap = 7_000_000  # 7s in micros; ts column below is seconds → micros
    l = spark.createDataFrame(
        [(k, t * 1_000_000) for k, t in left], "k long, lus long"
    ).withColumn("l_ts", F.timestamp_micros("lus"))
    r = spark.createDataFrame(
        [(k, t * 1_000_000) for k, t in right], "k long, rus long"
    ).withColumn("r_ts", F.timestamp_micros("rus"))
    got = {
        (x.k, x.lus, x.rus)
        for x in range_interval_join(
            l, r, key="k", left_ts="l_ts", right_ts="r_ts", max_gap_us=max_gap
        ).collect()
    }
    naive = {
        (lk, lt, rt)
        for (lk, lt) in ((k, t * 1_000_000) for k, t in left)
        for (rk, rt) in ((k, t * 1_000_000) for k, t in right)
        if lk == rk and 0 < rt - lt <= max_gap
    }
    assert got == naive


@given(
    left=st.lists(st.tuples(KEYS, TS), min_size=0, max_size=12),
    right=st.lists(st.tuples(KEYS, TS, VALS), min_size=0, max_size=12),
)
@settings(**_SETTINGS)
def test_asof_join_equals_argmax(spark, left, right):
    if not left:
        return
    # unique (key, ts) on the right: as-of tie-winner among duplicate
    # timestamps is documented as unspecified, so dedupe like callers must
    seen = {}
    for k, t, v in right:
        seen[(k, t)] = v
    right_rows = [(k, t, v) for (k, t), v in seen.items()]

    l = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
    )
    if right_rows:
        r = spark.createDataFrame(right_rows, "rk long, rt long, v long")
    else:
        r = spark.createDataFrame([], "rk long, rt long, v long")

    got = {
        (x.lid, x.rt, x.v)
        for x in as_of_join(l, r, "k", "rk", "t", "rt").collect()
    }
    expect = set()
    for i, (k, t) in enumerate(left):
        matches = [(rt, v) for (rk, rt, v) in right_rows if rk == k and rt <= t]
        if matches:
            rt, v = max(matches)
            expect.add((i, rt, v))
        else:
            expect.add((i, None, None))
    assert got == expect


@given(
    left=st.lists(st.tuples(KEYS, TS), min_size=1, max_size=12),
    right=st.lists(st.tuples(KEYS, TS, VALS), min_size=0, max_size=12),
    tol=st.one_of(st.none(), st.integers(min_value=0, max_value=20)),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
@settings(**_SETTINGS)
def test_asof_directions_and_tolerance_equal_bruteforce(
    spark, left, right, tol, direction
):
    """Every (direction, tolerance) combination must agree with the
    brute-force per-row argmin/argmax over the bounded candidate set —
    including inclusive boundaries (gap == tolerance matches), equal-ts
    matches, empty right sides, and nearest's backward tie-break."""
    seen = {}
    for k, t, v in right:
        seen[(k, t)] = v  # right-side (key, ts) uniqueness precondition
    right_rows = [(k, t, v) for (k, t), v in seen.items()]

    l = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
    )
    r = spark.createDataFrame(right_rows or [], "rk long, rt long, v long")
    got = {
        (x.lid, x.rt, x.v)
        for x in as_of_join(
            l, r, "k", "rk", "t", "rt", tolerance_s=tol, direction=direction
        ).collect()
    }

    def bounded(gap):
        return tol is None or gap <= tol

    expect = set()
    for i, (k, t) in enumerate(left):
        back = [(rt, v) for (rk, rt, v) in right_rows
                if rk == k and rt <= t and bounded(t - rt)]
        fwd = [(rt, v) for (rk, rt, v) in right_rows
               if rk == k and rt >= t and bounded(rt - t)]
        if direction == "backward":
            pick = max(back) if back else None
        elif direction == "forward":
            pick = min(fwd) if fwd else None
        else:  # nearest: closer gap wins, ties -> backward
            b = max(back) if back else None
            f = min(fwd) if fwd else None
            if b is not None and (f is None or (t - b[0]) <= (f[0] - t)):
                pick = b
            else:
                pick = f
        expect.add((i, *(pick or (None, None))))
    assert got == expect


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 12) - 1),
            st.integers(min_value=0, max_value=(1 << 12) - 1),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_zorder_key_matches_python_morton(spark, pairs):
    """The codegen bit-interleave must equal the textbook Morton code, and
    be injective over the scaled-cell domain (a curve that collapses cells
    can't cluster them)."""
    from pysparkdb.sources.layout import zorder_key

    bits = 12
    df = spark.createDataFrame(pairs, "x: long, y: long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", zorder_key([F.col("x"), F.col("y")], bits)
        ).collect()
    }

    def morton(x, y):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y)
    assert len(set(got.values())) == len(got)  # injective on distinct cells


@given(
    words=st.lists(st.sampled_from(["data", "spark", "row", "scan"]), min_size=1, max_size=8),
    n_email=st.integers(min_value=0, max_value=3),
    n_phone=st.integers(min_value=0, max_value=3),
)
@settings(**_SETTINGS)
def test_pii_scrub_counts_injected_pii(spark, words, n_email, n_phone):
    """Exactly the injected PII is counted and redacted, whatever clean
    text surrounds it."""
    from pysparkdb.pipeline.text import pii_scrub

    text = " ".join(
        words
        + ["u%d@ex.com" % i for i in range(n_email)]
        + ["12-345-678-90%02d" % i for i in range(n_phone)]
    )
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    r = pii_scrub(df).collect()[0]
    assert (r.n_email, r.n_phone) == (n_email, n_phone)
    assert r.scrubbed.count("[EMAIL]") == n_email
    assert r.scrubbed.count("[PHONE]") == n_phone


@given(
    hist=st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=10),
    batch=st.lists(st.sampled_from(["aa", "bb", "cc", "xx", "yy", "zz"]), min_size=1, max_size=10),
)
@settings(**_SETTINGS)
def test_incremental_dedup_equals_exact_anti_join(spark, hist, batch):
    """The relational-Bloom path must return EXACTLY the batch rows whose
    normalized text is absent from history — including empty history
    (everything new) and full overlap (nothing new). Tiny m forces heavy
    bloom false positives; the verify join must absorb them all."""
    from pysparkdb.pipeline.dedup import incremental_new_documents

    h = spark.createDataFrame(
        [(i, t) for i, t in enumerate(hist)] or [(0, "___never___")],
        "doc_id: long, text: string",
    )
    if not hist:
        h = h.filter("doc_id < 0")  # truly empty history
    b = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(batch)], "doc_id: long, text: string"
    )
    got = sorted(r.doc_id for r in
                 incremental_new_documents(h, b, m=64, k=3).collect())
    want = sorted(100 + i for i, t in enumerate(batch) if t not in hist)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=40), VALS),
        min_size=1, max_size=40, unique_by=lambda t: t[0],
    )
)
@settings(**_SETTINGS)
def test_upsert_algebra_against_python_merge(spark, rows):
    """CDC-merge semantics (the op_upsert shape) against a literal Python
    dict merge: updates override, tombstones remove, inserts add — for
    arbitrary key sets, including all-deleted and empty-changes cases."""
    base = spark.createDataFrame(rows, "k long, v long")
    m = F.col("k") % 10
    changes = base.filter(m.isin(0, 1, 3)).select(
        "k",
        F.when(m == 3, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        (F.col("v") + 1000).alias("nv"),
    )
    inserts = base.filter(m == 5).select(
        (F.col("k") + 100).alias("k"), F.lit(-7).alias("v")
    )
    merged = (
        base.join(changes, "k", "left")
        .filter(F.col("op").isNull() | (F.col("op") == "U"))
        .select(
            "k",
            F.when(F.col("op") == "U", F.col("nv")).otherwise(F.col("v")).alias("v"),
        )
        .unionByName(inserts)
    )
    got = {(r.k, r.v) for r in merged.collect()}
    exp = {}
    for k, v in rows:
        if k % 10 == 3:
            continue
        exp[k] = v + 1000 if k % 10 in (0, 1) else v
    for k, v in rows:
        if k % 10 == 5:
            exp[k + 100] = -7
    assert got == {(k, v) for k, v in exp.items()}


def test_weighted_sample_invariant_under_repartition(spark, sf_dir):
    """op_weighted_sample must select the identical document set whatever
    the physical partitioning — the reproducibility contract that
    rand()-based sampling cannot give (TakeOrderedAndProject merges
    per-partition heaps deterministically)."""
    from pysparkdb.queries import load_all

    fn = load_all()["op_weighted_sample"].fn
    baseline = {r.doc_id for r in fn(spark, sf_dir).collect()}

    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"].repartition(17)
    u = (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483648) + 1
    rep = {
        r.doc_id
        for r in d.select(
            "doc_id",
            (u.cast("double") / F.col("n_chars").cast("double")).alias("priority"),
        )
        .orderBy("priority", "doc_id")
        .limit(50)
        .collect()
    }
    assert rep == baseline


@given(
    rows_a=st.lists(st.tuples(st.integers(0, 9), VALS), min_size=0,
                    max_size=12, unique_by=lambda t: t[0]),
    rows_b=st.lists(st.tuples(st.integers(0, 9), VALS), min_size=0,
                    max_size=12, unique_by=lambda t: t[0]),
)
@settings(**_SETTINGS)
def test_diff_tagged_matches_set_semantics(spark, rows_a, rows_b):
    """The storage-free snapshot-diff core (sources/versioned.py:_diff_tagged,
    behind snapshot_diff on every store): against
    brute-force set semantics over unique-keyed sides — inserts = keys
    only in `to`, deletes = keys only in `from`, updates = keys in both
    whose payload differs (null-safe) — for every combination of empty /
    disjoint / overlapping key sets Hypothesis generates."""
    from pysparkdb.sources.versioned import _diff_tagged

    a = (spark.createDataFrame(rows_a, "k long, v long")
         if rows_a else None)
    b = (spark.createDataFrame(rows_b, "k long, v long")
         if rows_b else None)
    empty = lambda: spark.createDataFrame([], "k long, v long")  # noqa: E731
    got = {
        (r.k, r._change)
        for r in _diff_tagged(a, b, ["k"], True, empty).collect()
    }
    da, db = dict(rows_a), dict(rows_b)
    want = {(k, "insert") for k in db.keys() - da.keys()}
    want |= {(k, "delete") for k in da.keys() - db.keys()}
    want |= {(k, "update") for k in da.keys() & db.keys() if da[k] != db[k]}
    assert got == want
