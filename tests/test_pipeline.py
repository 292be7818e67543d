"""Pipeline + events queries vs the DuckDB oracle, and quality checks for
the hash-based (oracle-less) candidate generators."""

import pytest
from pyspark.sql import functions as F

from pysparkdb.queries import load_all
from tests.oracle import compare, duckdb_conn

ALL = load_all()
ORACLED = [s for s in ALL.values() if ("pipeline" in s.tags or "events" in s.tags) and s.oracle]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("spec", ORACLED, ids=[s.name for s in ORACLED])
def test_pipeline_oracle(spark, sf_dir, con, spec):
    compare(spec.fn(spark, sf_dir), con, spec.oracle)


def test_no_oracle_less_registrations():
    """Goal state: EVERY registered query carries a DuckDB oracle — a new
    oracle-less registration fails loudly here (the weaker rows-only driver
    check is reserved for genuinely non-SQL-expressible ops, of which the
    registry currently has none)."""
    rows_only = [s.name for s in ALL.values() if not s.oracle]
    assert not rows_only, f"oracle-less queries registered: {rows_only}"


def test_minhash_recall_vs_exact(spark, sf_dir):
    """LSH-verified pairs must be a subset of exact pairs (verify step is
    exact) and recall at t=0.5 must be total on this corpus (b=16, r=2 →
    P(miss | J≥0.5) < 1%; the observed near-dups are J≈0.99 clones)."""
    from pysparkdb.pipeline import dedup
    from pysparkdb.queries.base import tables

    docs = tables(spark, sf_dir)["documents"]
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5, max_doc_freq=256
        ).collect()
    }
    assert lsh <= exact
    assert len(exact) > 0, "corpus should contain near-dup clones"
    recall = len(lsh) / len(exact)
    assert recall == 1.0, f"LSH recall {recall} < 1 on clone-heavy corpus"


def test_resize_image_pixel_grid(spark):
    """resize_image's deterministic stand-in: known payload → known pixel
    grid (shape, [0,1] range, exact byte-sampled values)."""
    from pysparkdb.pipeline.multimodal import resize_image

    payload = bytes(range(256))
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(b"\x00\xff"))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in resize_image(df, 4, 4, fake=True).collect()}
    r1 = out[1]
    assert (r1.width, r1.height, len(r1.pixels)) == (4, 4, 16)
    # 256-byte payload, 16 pixels → step 16: pixel i samples byte 16·i
    assert r1.pixels == [float(16 * i) / 255.0 for i in range(16)]
    r2 = out[2]
    # 2-byte payload → step 1, clamped to the last byte past the end
    assert len(r2.pixels) == 16
    assert r2.pixels[0] == 0.0 and r2.pixels[2:] == [1.0] * 14
    assert all(0.0 <= p <= 1.0 for r in out.values() for p in r.pixels)


def test_minhash_lane_agreement_tracks_jaccard(spark):
    """MinHash lanes must be (near-)independent: for a doc pair with
    known Jaccard J, the fraction of agreeing lanes estimates J. The
    failure mode guarded here is structural lane correlation — an affine
    K-M lane family (h1 + j·h2) once produced 0/32 agreement on J≈0.9
    clones because only lower-envelope shingles could attain any lane's
    min."""
    from pysparkdb.pipeline import dedup

    base = " ".join(f"w{i}" for i in range(40))
    # doc 2 changes the last 2 words → word-3-gram J ≈ 0.86
    variant = " ".join(f"w{i}" for i in range(38)) + " x1 x2"
    docs = spark.createDataFrame(
        [(1, base), (2, variant)], "doc_id long, text string"
    )
    sigs = {r.did: r.sig for r in dedup.minhash_signatures(docs).collect()}
    agree = sum(1 for a, b in zip(sigs[1], sigs[2]) if a == b)
    # E[agree] = 32·J ≈ 27.5; demand at least half — generous for noise,
    # far above the 0 the correlated family produced
    assert agree >= 16, f"lane agreement {agree}/32 too low for J≈0.86"


def test_containment_cap_never_adds_pairs(spark):
    """Same underestimate-only invariant for the containment measure —
    both pair functions share _pair_overlap_counts, so this pins the
    invariant through the OTHER consumer of the shared core (a cap
    regression that inflated `common` would surface here even if the
    jaccard twin's threshold hid it)."""
    from pysparkdb.pipeline import dedup

    boiler = "terms of service apply"
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon"),
        (2, boiler + " alpha beta gamma delta zeta"),
        (3, boiler + " one two three four five"),
        (4, boiler + " six seven eight nine ten"),
        (5, boiler + " alpha beta gamma delta epsilon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def collectc(**kw):
        return {
            (r.doc_a, r.doc_b): (r.cont_a, r.cont_b)
            for r in dedup.containment_pairs(
                docs, threshold=0.01, **kw
            ).collect()
        }

    full = collectc()
    assert full, "vacuous: engineered near-dups produced no pairs"
    for cap in (1, 2, 4):
        capped = collectc(max_doc_freq=cap)
        assert set(capped) <= set(full), (cap, capped, full)
        for pair, (ca, cb) in capped.items():
            assert ca <= full[pair][0] + 1e-12 and cb <= full[pair][1] + 1e-12
    assert collectc(max_doc_freq=100) == full


def test_stop_shingle_cap_never_adds_pairs(spark):
    """The stop-shingle guard may only REMOVE pairs, and any surviving
    pair's jaccard is ≤ its uncapped value (sizes count every shingle; only
    the join is capped). Corpus engineered so a stop shingle exists: every
    doc shares one boilerplate 3-gram."""
    from pysparkdb.pipeline import dedup

    boiler = "terms of service apply"
    rows = [
        (1, boiler + " alpha beta gamma delta epsilon"),
        (2, boiler + " alpha beta gamma delta zeta"),
        (3, boiler + " one two three four five"),
        (4, boiler + " six seven eight nine ten"),
        (5, boiler + " alpha beta gamma delta epsilon"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    for cap in (1, 2, 4):
        capped = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, threshold=0.01, max_doc_freq=cap
            ).collect()
        }
        assert set(capped) <= set(full), (cap, capped, full)
        for pair, j in capped.items():
            assert j <= full[pair] + 1e-12, (cap, pair, j, full[pair])
    # cap above every doc-freq → identical result
    uncapped_equal = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.01, max_doc_freq=100
        ).collect()
    }
    assert uncapped_equal == full


def test_simhash_identical_docs_collide(spark, sf_dir):
    """Documents that are exact near-clones (J≥0.9) should have tiny SimHash
    Hamming distance; unrelated docs overwhelmingly should not."""
    from pysparkdb.pipeline import dedup
    from pysparkdb.queries.base import tables

    docs = tables(spark, sf_dir)["documents"]
    clones = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    sim = {(r.doc_a, r.doc_b) for r in dedup.simhash_pairs(docs).collect()}
    # non-vacuity: the corpus plants near-clones; if regenerated testdata
    # ever stops containing J≥0.9 pairs this test must fail loudly, not
    # silently skip its only assertion
    assert clones, "vacuous: corpus has no J≥0.9 near-clone pairs"
    hit = len(clones & sim) / len(clones)
    assert hit >= 0.8, f"simhash found only {hit:.0%} of J≥0.9 clones"


def test_ann_lsh_structure_and_recall(spark, sf_dir):
    from pysparkdb.queries.base import tables
    from pysparkdb.pipeline import similarity

    e = tables(spark, sf_dir)["embeddings"]
    exact = {r.qid: r.cid for r in similarity.topk_neighbors(
        e, k=1, query_filter=F.col("vec_id") < 50).collect()}
    approx = {r.qid: r.cid for r in similarity.lsh_topk_neighbors(
        e, dim=64, k=1, query_filter=F.col("vec_id") < 50).collect()}
    # structure: at most one neighbor per query, no self-matches
    assert approx, "vacuous: LSH returned no neighbors at all"
    assert set(approx) <= set(range(50))
    assert all(cid not in (None, qid) for qid, cid in approx.items())
    recall = sum(1 for q in approx if exact.get(q) == approx[q]) / max(len(exact), 1)
    print(f"ann_lsh top-1 recall vs exact: {recall:.2f} over {len(approx)} queries")
    # LSH guarantees apply to genuinely-near neighbors: where the exact
    # top-1 has cosine ≥ 0.8, the (6-bit, 8-table) OR-construction must
    # recover it with near-certainty. The random corpus has NO such pairs
    # (measured max top-1 cosine ≈ 0.49 at sf0.01 — a corpus-derived
    # `near` set is empty and the assertion vacuous), so PLANT them: for
    # each query vector add a deterministically perturbed clone
    # (per-dimension ±1% scaling → cosine ≈ 0.9999) under vec_id+10⁶.
    pert = F.transform(
        "embedding", lambda v, i: v * (1.0 + 0.01 * ((i % 3) - 1))
    )
    planted = (
        e.filter(F.col("vec_id") < 50)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                pert.alias("embedding"))
    )
    seeded = e.select("vec_id", "embedding").unionByName(planted)
    near_exact = {r.qid: (r.cid, r.cosine) for r in similarity.topk_neighbors(
        seeded, k=1, query_filter=F.col("vec_id") < 50).collect()}
    assert near_exact and all(
        c == q + 1_000_000 and s > 0.99 for q, (c, s) in near_exact.items()
    ), "planting failed: exact top-1 should be the perturbed clone"
    near_approx = {r.qid: r.cid for r in similarity.lsh_topk_neighbors(
        seeded, dim=64, k=1, query_filter=F.col("vec_id") < 50).collect()}
    near_recall = sum(
        1 for q in near_exact if near_approx.get(q) == near_exact[q][0]
    ) / len(near_exact)
    assert near_recall >= 0.9, f"near-neighbor recall {near_recall:.0%}"


def test_ann_quantized_recall_and_metric_fidelity(spark, sf_dir):
    """The int8 scoring path: (a) top-1 over quantized codes recovers the
    exact top-1 for planted genuinely-near neighbors (the regime the
    ann_quantized certificate prices), (b) the quantized cosine itself
    stays within the int8 error envelope of the exact cosine — a clamp or
    rounding-rule drift in _int8_codes would break (b) long before the
    0.9 recall floor moves, and (c) NULL embeddings are excluded like
    every other path."""
    from pysparkdb.pipeline import similarity
    from pysparkdb.queries.base import tables

    e = tables(spark, sf_dir)["embeddings"]
    qf = F.col("vec_id") < 50
    exact = {r.qid: (r.cid, r.cosine)
             for r in similarity.topk_neighbors(e, k=1, query_filter=qf).collect()}
    quant = {r.qid: (r.cid, r.cosine)
             for r in similarity.quantized_topk_neighbors(
                 e, k=1, query_filter=qf).collect()}
    assert quant and set(quant) == set(exact)
    assert all(cid not in (None, qid) for qid, (cid, _) in quant.items())
    # (b) metric fidelity on agreeing pairs: |cos_int8 − cos_float| small
    # (64 dims, per-component error ≤ scale/2 → observed ≪ 0.02)
    agree = [q for q in exact if quant[q][0] == exact[q][0]]
    assert agree, "vacuous: no agreeing top-1 pairs at all"
    worst = max(abs(quant[q][1] - exact[q][1]) for q in agree)
    assert worst <= 0.02, f"int8 cosine drifted {worst:.4f} from exact"
    # (a) planted near neighbors (the ann_lsh planting construction)
    pert = F.transform(
        "embedding", lambda v, i: v * (1.0 + 0.01 * ((i % 3) - 1))
    )
    planted = (
        e.filter(qf)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                pert.alias("embedding"))
    )
    seeded = e.select("vec_id", "embedding").unionByName(planted)
    near_exact = {r.qid: r.cid for r in similarity.topk_neighbors(
        seeded, k=1, query_filter=qf).collect()}
    near_quant = {r.qid: r.cid for r in similarity.quantized_topk_neighbors(
        seeded, k=1, query_filter=qf).collect()}
    near_recall = sum(
        1 for q in near_exact if near_quant.get(q) == near_exact[q]
    ) / len(near_exact)
    assert near_recall >= 0.9, f"quantized near recall {near_recall:.0%}"
    # (c) NULL exclusion
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(6)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert 99 not in {r.qid for r in
                      similarity.quantized_topk_neighbors(df, k=1).collect()}


def test_quantized_candidates_bounding(spark, sf_dir):
    """The candidates parameter (the lsh/ivf bounding convention): a
    (qid, cid) frame restricts scoring to exactly those pairs — the
    bounded form agrees with the unbounded kernel whenever the true
    top-1 pair is inside the candidate set, and never emits a pair
    outside it. This is the shape that makes the int8 kernel usable at
    scale: candidate generation (LSH/IVF buckets) bounds the join, int8
    only shrinks the bytes."""
    from pysparkdb.pipeline import similarity
    from pysparkdb.queries.base import tables

    e = tables(spark, sf_dir)["embeddings"]
    qf = F.col("vec_id") < 20
    unbounded = {r.qid: (r.cid, r.cosine)
                 for r in similarity.quantized_topk_neighbors(
                     e, k=1, query_filter=qf).collect()}
    # full pair set as candidates → identical result
    ids = e.select(F.col("vec_id").alias("qid"))
    full = ids.filter(F.col("qid") < 20).crossJoin(
        e.select(F.col("vec_id").alias("cid")))
    bounded = {r.qid: (r.cid, r.cosine)
               for r in similarity.quantized_topk_neighbors(
                   e, k=1, query_filter=qf, candidates=full).collect()}
    assert bounded == unbounded
    # DUPLICATED candidate pairs (the raw multi-band LSH join shape) must
    # not consume extra top-k slots or emit duplicate rows
    duped = similarity.quantized_topk_neighbors(
        e, k=3, query_filter=qf, candidates=full.unionAll(full)).collect()
    clean = similarity.quantized_topk_neighbors(
        e, k=3, query_filter=qf, candidates=full).collect()
    assert sorted(map(tuple, duped)) == sorted(map(tuple, clean))
    # restricted candidate set → only those pairs are scored
    two = full.filter(F.col("cid").isin(100, 101))
    narrow = similarity.quantized_topk_neighbors(
        e, k=5, query_filter=qf, candidates=two).collect()
    assert narrow and {r.cid for r in narrow} <= {100, 101}


def test_multimodal_decode_stub(spark, sf_dir):
    from pysparkdb.pipeline import multimodal
    from pysparkdb.queries.base import tables

    packed = multimodal.to_binary_column(tables(spark, sf_dir)["documents"])
    if multimodal._codec("PIL.Image") is None:
        # this container ships no codec: the probe must miss and the real
        # path must raise, pointing at the fake contract
        with pytest.raises(NotImplementedError, match="image decode"):
            multimodal.decode_image(packed)
    else:
        # a codec is present (future container): the real path must plan
        # through the same plumbing and yield the declared schema
        assert multimodal.decode_image(packed).columns == ["doc_id", "features"]
    feats = multimodal.decode_image(packed, fake=True)
    row = feats.first()
    assert len(row.features) == 16
    assert all(0.0 <= x <= 1.0 for x in row.features)


def test_similarity_excludes_null_embeddings_everywhere(spark):
    """A NULL embedding row (the column is declared nullable) must be
    excluded, not crash np.stack inside the Arrow-batched paths: exact,
    LSH, IVF and quantization all agree it is neither candidate, query,
    nor quantizable."""
    from pysparkdb.pipeline import similarity

    rows = [(i, [float(i == j) for j in range(8)]) for i in range(6)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    exact = similarity.topk_neighbors(df, k=1)
    assert 99 not in {r.qid for r in exact.collect()}

    lsh = similarity.lsh_topk_neighbors(df, dim=8, k=1, nbits=2, tables=2)
    assert 99 not in {r.qid for r in lsh.collect()}

    ivf = similarity.ivf_topk_neighbors(df, dim=8, k=1, nlist=2, nprobe=2)
    assert 99 not in {r.qid for r in ivf.collect()}

    quant = similarity.quantize_embeddings(df)
    assert {r.vec_id for r in quant.collect()} == {0, 1, 2, 3, 4, 5}

    pairs = similarity.cosine_pairs(df, threshold=-1.0)
    ids = {r.id_a for r in pairs.collect()} | {r.id_b for r in pairs.collect()}
    assert 99 not in ids


def test_lsh_band_parameter_validation(spark):
    """Banding parameters that silently lose recall (or waste lanes) are
    rejected eagerly: simhash needs >= max_hamming+1 bands for its
    pigeonhole guarantee, and minhash lanes must band exactly."""
    from pysparkdb.pipeline.dedup import minhash_band_candidates, simhash_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands"):
        simhash_pairs(df, bits=32, band_bits=16, max_hamming=3)
    with pytest.raises(ValueError, match="divide bits"):
        simhash_pairs(df, bits=32, band_bits=7)
    with pytest.raises(ValueError, match="rows_per_band"):
        minhash_band_candidates(df, num_hashes=33, rows_per_band=2)


def test_multimodal_null_payloads_do_not_crash(spark):
    """A NULL payload (NULL source text, failed fetch) must not kill the
    job executor-side: 1→1 extractors emit NULL features for that row,
    1→N fan-outs emit zero rows for it — other rows unaffected."""
    from pysparkdb.pipeline import multimodal

    df = spark.createDataFrame(
        [(1, bytearray(b"payload-bytes")), (2, None), (3, bytearray(b""))],
        "doc_id long, payload binary",
    )
    meta = {r.doc_id: r.meta for r in multimodal.extract_metadata(df).collect()}
    assert meta[2] is None and meta[1].n_bytes == 13 and meta[3].n_bytes == 0

    feats = {r.doc_id: r.features
             for r in multimodal.decode_image(df, fake=True).collect()}
    assert feats[2] is None and len(feats[1]) == 16

    px = {r.doc_id: r.pixels
          for r in multimodal.resize_image(df, 2, 2, fake=True).collect()}
    assert px[2] is None and len(px[1]) == 4 and px[3] == [0.0] * 4

    audio = {r.doc_id: (r.rms, r.zero_crossings)
             for r in multimodal.decode_audio(df, fake=True).collect()}
    assert audio[2] == (None, None) and audio[1][0] > 0

    hashes = {r.doc_id: r.ahash
              for r in multimodal.image_ahash(df, npx=16, fake=True).collect()}
    assert hashes[2] is None and hashes[3] == "0" * 16
    assert set(hashes[1]) <= {"0", "1"} and len(hashes[1]) == 16

    frames = multimodal.sample_frames(df, num_frames=2, fake=True).collect()
    assert {r.doc_id for r in frames} == {1, 3}  # NULL → zero rows

    windows = multimodal.chunk_audio(df, 8, 4, fake=True).collect()
    assert {r.doc_id for r in windows} == {1, 3}


def test_multimodal_validates_arguments_on_driver(spark):
    """Zero/negative sizing arguments fail eagerly on the driver (the
    layout.py convention), not as a task traceback after a job launches —
    and identically for the fake and real paths."""
    from pysparkdb.pipeline import multimodal

    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id long, payload binary")
    for kwargs in ({"fake": True}, {"fake": False}):
        with pytest.raises(ValueError, match="num_frames"):
            multimodal.sample_frames(df, num_frames=0, **kwargs)
        with pytest.raises(ValueError, match="hop_bytes"):
            multimodal.chunk_audio(df, window_bytes=8, hop_bytes=0, **kwargs)
        with pytest.raises(ValueError, match="width/height"):
            multimodal.resize_image(df, 0, 4, **kwargs)
        with pytest.raises(ValueError, match="npx"):
            multimodal.image_ahash(df, npx=-1, **kwargs)


def test_ann_ivf_structure_and_recall(spark, sf_dir):
    """IVF top-1: valid structure, and recall vs exact brute force at least
    matching the data-oblivious LSH baseline's floor."""
    from pysparkdb.pipeline import similarity
    from pysparkdb.queries.base import tables
    import pyspark.sql.functions as F

    e = tables(spark, sf_dir)["embeddings"]
    exact = {r.qid: r.cid for r in similarity.topk_neighbors(
        e, k=1, query_filter=F.col("vec_id") < 50).collect()}
    approx = {r.qid: (r.cid, r.cosine) for r in similarity.ivf_topk_neighbors(
        e, dim=64, k=1, query_filter=F.col("vec_id") < 50).collect()}
    assert set(approx) <= set(exact)
    for qid, (cid, cos) in approx.items():
        assert cid != qid and -1.0 <= cos <= 1.0
    recall = sum(1 for q, c in exact.items() if q in approx and approx[q][0] == c) / len(exact)
    print(f"ann_ivf top-1 recall vs exact: {recall:.2f} over {len(approx)} queries")
    assert recall >= 0.6


def test_chunk_text_covers_and_reconstructs(spark):
    """Every chunk is exactly text[start:start+size]; chunk starts step by
    stride; the last chunk reaches the document end (full coverage); and
    stripping the overlap reconstructs the original text."""
    from pysparkdb.pipeline.text import chunk_text

    texts = ["x" * 10, "".join(chr(97 + i % 26) for i in range(487)), "short"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    size, stride = 100, 60
    out = {}
    for r in chunk_text(docs, size=size, stride=stride).collect():
        out.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk
    for i, text in enumerate(texts):
        chunks = [out[i][k] for k in sorted(out[i])]
        for k, c in enumerate(chunks):
            assert c == text[k * stride : k * stride + size], (i, k)
        # coverage: last chunk reaches the end
        assert (len(chunks) - 1) * stride + len(chunks[-1]) >= len(text)
        # reconstruction: first chunk + non-overlap tails
        rebuilt = chunks[0] + "".join(c[size - stride:] for c in chunks[1:])
        assert rebuilt == text, i


def test_hash_sample_deterministic_under_repartition(spark, sf_dir):
    """Hash-sample membership is a pure function of the key: the same rows
    are selected regardless of partitioning or run."""
    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"]
    pred = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    a = {r.doc_id for r in d.filter(pred).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in d.repartition(17, "lang").filter(pred).select("doc_id").collect()
    }
    assert a == b and 0 < len(a) < d.count()


def test_chunk_audio_window_math(spark):
    """Known payload → known windows: starts step by hop, last window
    reaches the end, sizes clamp, RMS of a constant signal is its level."""
    from pysparkdb.pipeline.multimodal import chunk_audio

    df = spark.createDataFrame(
        [(1, bytearray([3] * 1500)), (2, bytearray(b"")), (3, bytearray([5] * 100))],
        "doc_id long, payload binary",
    )
    out = {}
    for r in chunk_audio(df, window_bytes=1024, hop_bytes=512, fake=True).collect():
        out.setdefault(r.doc_id, []).append(r)
    w1 = sorted(out[1], key=lambda r: r.window_id)
    assert [(r.start_byte, r.n_bytes) for r in w1] == [(0, 1024), (512, 988)]
    assert all(abs(r.rms - 3.0) < 1e-12 for r in w1)
    assert [(r.start_byte, r.n_bytes, r.rms) for r in out[2]] == [(0, 0, 0.0)]
    assert [(r.start_byte, r.n_bytes) for r in out[3]] == [(0, 100)]
    assert abs(out[3][0].rms - 5.0) < 1e-12


def test_cross_corpus_capping_only_removes_pairs(spark, sf_dir):
    """The stop-shingle cap must UNDER-report: capped pairs are a subset
    of uncapped pairs and each capped jaccard <= its uncapped value (set
    sizes count every shingle, pre-filter — sizes taken post-filter would
    inflate jaccard for shingles dropped from only one side of a pair)."""
    from pysparkdb.pipeline import dedup
    from pysparkdb.queries.base import tables
    import pyspark.sql.functions as F

    d = tables(spark, sf_dir)["documents"]
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    is_bench = digit.isin("0", "1")
    train, bench = d.filter(~is_bench), d.filter(is_bench)
    un = {
        (r.train_id, r.bench_id): r.jaccard
        for r in dedup.cross_corpus_overlap(train, bench, threshold=0.1).collect()
    }
    capped = {
        (r.train_id, r.bench_id): r.jaccard
        for r in dedup.cross_corpus_overlap(
            train, bench, threshold=0.1, max_doc_freq=4
        ).collect()
    }
    assert set(capped) <= set(un)
    for pair, j in capped.items():
        assert j <= un[pair] + 1e-12, f"{pair}: capped {j} > uncapped {un[pair]}"


def test_cross_corpus_overlap_matches_restricted_self_join(spark, sf_dir):
    """Decontamination pairs == the full single-corpus jaccard pair set
    restricted to (train, bench) splits, in either orientation — the
    cross-corpus op must find exactly the cross-split subset."""
    from pysparkdb.pipeline import dedup
    from pysparkdb.queries.base import tables
    import pyspark.sql.functions as F

    d = tables(spark, sf_dir)["documents"]
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    is_bench = digit.isin("0", "1")
    got = {
        (r.train_id, r.bench_id)
        for r in dedup.cross_corpus_overlap(
            d.filter(~is_bench), d.filter(is_bench), threshold=0.5
        ).collect()
    }
    bench_ids = {r.doc_id for r in d.filter(is_bench).select("doc_id").collect()}
    full = dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    expect = set()
    for r in full:
        a_bench, b_bench = r.doc_a in bench_ids, r.doc_b in bench_ids
        if a_bench != b_bench:  # exactly one side in the benchmark split
            expect.add((r.doc_b, r.doc_a) if a_bench else (r.doc_a, r.doc_b))
    assert got == expect
    assert expect, "vacuous: no cross-split near-dup pairs at this SF"


def test_repetition_metrics_known_document(spark):
    """Hand-computed ratios: 'a a a b' → 4 tokens, 2 distinct,
    dup_token_ratio 0.5, top token 'a' 3/4, top bigram 'a a' 2/3."""
    from pysparkdb.pipeline.text import repetition_metrics

    df = spark.createDataFrame([(1, "a a a b")], ["doc_id", "text"])
    r = repetition_metrics(df).collect()[0]
    assert r.n_tokens == 4 and r.n_distinct == 2
    assert r.dup_token_ratio == 0.5
    assert r.top_token_ratio == 0.75
    assert abs(r.top_bigram_ratio - 2 / 3) < 1e-12


def _py_components(edges):
    """Reference union-find for tiny graphs: node -> min id in component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4 plus island pair (10,11): two clusters labeled by
    their minima; a node's label never depends on edge orientation."""
    from pysparkdb.pipeline.cluster import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r.did: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_random_graph_matches_union_find(spark):
    """Star-contraction fixpoint == classic union-find on a seeded random
    graph (200 nodes, 150 edges → many non-trivial components)."""
    import random

    from pysparkdb.pipeline.cluster import connected_components

    rng = random.Random(42)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(u, v) for u, v in edges if u != v]
    expect = _py_components(edges)
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.did: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == expect


def test_dedup_survivors_keep_flags(spark, sf_dir):
    """Every document gets a cluster_id (its own id when un-paired); keep ⇔
    id == cluster_id; exactly one keeper per cluster."""
    from pysparkdb.pipeline import dedup
    from pysparkdb.pipeline.cluster import dedup_survivors
    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"]
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.5)
    rows = dedup_survivors(d, pairs).collect()
    assert len(rows) == d.count()
    clusters = {}
    for r in rows:
        assert r.keep == (r.doc_id == r.cluster_id)
        clusters.setdefault(r.cluster_id, []).append(r.keep)
    for cid, keeps in clusters.items():
        assert sum(keeps) == 1, f"cluster {cid}: {sum(keeps)} keepers"


def test_tfidf_ln_agreement_at_rounding_precision(spark, sf_dir):
    """The text_tfidf oracle contract: JVM Math.log and DuckDB ln may
    differ in the last ulp (they do — e.g. df=387 at sf0.01), but agree
    at the 6dp rounding the query emits, for every (1+N)/(1+df) argument
    this corpus produces, and never differ by more than 4 ulp."""
    import duckdb
    import pyspark.sql.functions as F
    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"]
    n_docs = d.count()
    dfs = (
        d.select(F.col("doc_id"), F.explode_outer(F.split("text", " ")).alias("tok"))
        .distinct()
        .groupBy("tok")
        .count()
        .select(F.col("count").alias("df"))
        .distinct()
    )
    spark_vals = {
        r.df: r.lg
        for r in dfs.withColumn(
            "lg", F.log((1.0 + F.lit(float(n_docs))) / (1.0 + F.col("df")))
        ).collect()
    }
    import math

    con = duckdb.connect()
    for df_val, s in spark_vals.items():
        (dck,) = con.sql(
            f"SELECT ln((1.0 + {float(n_docs)}) / (1.0 + {df_val}))"
        ).fetchone()
        assert abs(s - dck) <= 4 * math.ulp(dck), (df_val, s, dck)
        assert round(s, 6) == round(dck, 6), (df_val, s, dck)


def test_domain_mix_smallest_source_fully_kept(spark, sf_dir):
    """The smallest source's rate is 1.0 → threshold 65536 → every doc
    kept; every other source keeps a strict subset, and kept sets are
    identical across two invocations (determinism)."""
    import pyspark.sql.functions as F
    from pysparkdb.pipeline.text import domain_mix, token_count
    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"]
    totals = {
        r.source: r.t
        for r in d.groupBy("source")
        .agg(F.sum(token_count("text")).alias("t"))
        .collect()
    }
    smallest = min(totals, key=totals.get)
    kept1 = {r.doc_id for r in domain_mix(d).select("doc_id").collect()}
    kept2 = {r.doc_id for r in domain_mix(d).select("doc_id").collect()}
    assert kept1 == kept2
    all_ids = {
        (r.doc_id, r.source) for r in d.select("doc_id", "source").collect()
    }
    small_ids = {i for i, s in all_ids if s == smallest}
    assert small_ids <= kept1
    for src in totals:
        src_ids = {i for i, s in all_ids if s == src}
        assert src_ids & kept1, f"source {src} sampled to zero"


def test_pack_sequences_hand_example(spark):
    """Known layout: one source, ids 0/8/16/24 (all bucket 0), token
    counts 4,5,3,9, seq_len 10 → starts 0,4,9,12 → bins 0,0,0,1."""
    from pysparkdb.pipeline.text import pack_sequences

    rows = [
        (0, "a b c d", "web"),
        (8, "a b c d e", "web"),
        (16, "a b c", "web"),
        (24, "a b c d e f g h i", "web"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        (r.source, r.bucket, r.bin): (r.n_docs, r.n_tokens, r.first_doc, r.last_doc)
        for r in pack_sequences(df, seq_len=10).collect()
    }
    assert got == {
        ("web", 0, 0): (3, 12, 0, 16),
        ("web", 0, 1): (1, 9, 24, 24),
    }


def test_pack_sequences_conserves_tokens(spark, sf_dir):
    """Every document lands in exactly one bin: per-bin token totals sum
    to the corpus token total, and the manifest plans with a single
    exchange (the rollup keys extend the window partition keys)."""
    import pyspark.sql.functions as F
    from pysparkdb.pipeline.text import pack_sequences, token_count
    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"]
    manifest = pack_sequences(d)
    total = d.agg(F.sum(token_count("text"))).collect()[0][0]
    packed = manifest.agg(
        F.sum("n_tokens").alias("t"), F.sum("n_docs").alias("n")
    ).collect()[0]
    assert packed.t == total
    assert packed.n == d.count()
    plan = manifest._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_connected_components_long_path(spark):
    """A 64-node path is the adversarial case for star contraction (round
    count grows with diameter); must converge inside the default bound
    and label every node with the path minimum."""
    from pysparkdb.pipeline.cluster import connected_components

    edges = [(i, i + 1) for i in range(63)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r.did: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(64)}


def test_quantize_reconstruction_error_bound(spark, sf_dir):
    """Dequantized values must sit within scale/2 of the original
    (half-up rounding guarantee; clamp can only bite at |v| = amax where
    the code is exactly ±127), and every code must lie in [-127, 127]."""
    from pysparkdb.pipeline.similarity import quantize_embeddings
    from pysparkdb.queries.base import tables

    e = tables(spark, sf_dir)["embeddings"]
    orig = {r.vec_id: [float(x) for x in r.embedding] for r in e.collect()}
    for r in quantize_embeddings(e).collect():
        codes = [int(c) for c in r.q.split(",")]
        assert all(-127 <= c <= 127 for c in codes)
        v = orig[r.vec_id]
        assert len(codes) == len(v)
        # r.scale is rounded for display; recover the exact scale
        amax = max(abs(x) for x in v)
        scale = amax / 127.0 if amax else 1.0
        for c, x in zip(codes, v):
            assert abs(c * scale - x) <= scale / 2 + 1e-12, (r.vec_id, c, x)


def test_domain_mix_invariant_under_repartition(spark, sf_dir):
    """Sample membership is a pure function of the doc key: the kept set
    must be identical whatever the input partitioning (1 partition,
    many, or key-clustered)."""
    import pyspark.sql.functions as F
    from pysparkdb.pipeline.text import domain_mix
    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"]
    base = {r.doc_id for r in domain_mix(d).select("doc_id").collect()}
    for variant in (d.coalesce(1), d.repartition(13), d.repartition("source")):
        got = {r.doc_id for r in domain_mix(variant).select("doc_id").collect()}
        assert got == base


def test_dup_chunk_methods_agree(spark, sf_dir):
    """The skew-robust join formulation (map-side-combined frequency +
    AQE-splittable join-back) must produce exactly the default window
    formulation's result — same fractions, same docs."""
    import pytest
    from pysparkdb.pipeline.text import dup_chunk_stats
    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"]
    win = sorted(map(tuple, dup_chunk_stats(d, method="window").collect()))
    jn = sorted(map(tuple, dup_chunk_stats(d, method="join").collect()))
    assert win == jn
    with pytest.raises(ValueError, match="method"):
        dup_chunk_stats(d, method="sketch")


def test_pii_scrub_idempotent_and_clean(spark, sf_dir):
    """After one scrub pass no PII pattern may remain (the compliance
    property), so a second pass is the identity."""
    from pysparkdb.pipeline.text import PII_PATTERNS, pii_scrub
    from pysparkdb.queries import load_all

    once = load_all()["text_pii_scrub"].fn(spark, sf_dir)
    import pyspark.sql.functions as F

    for name, pat, _ in PII_PATTERNS:
        assert once.filter(F.col("scrubbed").rlike(pat)).count() == 0, name
    twice = pii_scrub(
        once.select(F.col("id"), F.col("scrubbed").alias("text")),
        id_col="id", text_col="text",
    )
    assert twice.filter(
        (F.col("n_email") != 0) | (F.col("n_phone") != 0)
    ).count() == 0


def test_ivf_index_roundtrip_matches_inmemory(spark, sf_dir, tmp_path):
    """Build-once/search-many: searching the persisted IVF index must
    return exactly the in-memory ivf_topk_neighbors result for the same
    build inputs (centroid doubles round-trip parquet exactly; the cell
    assignment is the same expression)."""
    from pysparkdb.pipeline.similarity import (
        build_ivf_index,
        ivf_topk_from_index,
        ivf_topk_neighbors,
    )
    from pysparkdb.queries.base import tables

    e = tables(spark, sf_dir)["embeddings"]
    idx = str(tmp_path / "ivf")
    build_ivf_index(e, idx, dim=64, nlist=8)
    from_index = ivf_topk_from_index(spark, idx, e, k=2, nprobe=2)
    in_memory = ivf_topk_neighbors(e, dim=64, k=2, nlist=8, nprobe=2)
    a = sorted(map(tuple, from_index.collect()))
    b = sorted(map(tuple, in_memory.collect()))
    assert a == b and len(a) > 0


def test_lsh_index_roundtrip_matches_inmemory(spark, sf_dir, tmp_path):
    """Persisted LSH index: planes re-derived from the stored seed +
    persisted candidate buckets must reproduce lsh_topk_neighbors
    exactly."""
    from pysparkdb.pipeline.similarity import (
        build_lsh_index,
        lsh_topk_from_index,
        lsh_topk_neighbors,
    )
    from pysparkdb.queries.base import tables

    e = tables(spark, sf_dir)["embeddings"]
    idx = str(tmp_path / "lsh")
    build_lsh_index(e, idx, dim=64)
    a = sorted(map(tuple, lsh_topk_from_index(spark, idx, e, k=2).collect()))
    b = sorted(map(tuple, lsh_topk_neighbors(e, dim=64, k=2).collect()))
    assert a == b and len(a) > 0


def test_index_search_external_query_batch(spark, sf_dir, tmp_path):
    """Index search with an EXTERNAL query batch (independent id space):
    exclude_self=False must keep a corpus candidate whose vec_id happens
    to equal a query id — the id collision is not the same vector."""
    from pysparkdb.pipeline.similarity import (
        build_ivf_index,
        build_lsh_index,
        ivf_topk_from_index,
        lsh_topk_from_index,
    )
    from pysparkdb.queries.base import tables

    e = tables(spark, sf_dir)["embeddings"]
    # external batch: the vectors of ids 100..104, renumbered 0..4 —
    # id 0 collides with corpus id 0 but holds a different vector
    ext = (
        e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105))
        .withColumn("vec_id", F.col("vec_id") - 100)
    )
    ivf = str(tmp_path / "ivf_ext")
    build_ivf_index(e, ivf, dim=64, nlist=4)
    got = ivf_topk_from_index(spark, ivf, ext, k=1, nprobe=4, exclude_self=False)
    # each external query's own corpus twin (id+100) is its exact nearest
    # neighbor at cosine 1.0; with exclude_self=False nothing hides it
    top = {r.qid: (r.cid, r.cosine) for r in got.collect()}
    assert len(top) == 5
    for qid, (cid, cos) in top.items():
        assert cid == qid + 100 and abs(cos - 1.0) < 1e-9, (qid, cid, cos)

    lsh = str(tmp_path / "lsh_ext")
    build_lsh_index(e, lsh, dim=64)
    got2 = {r.qid: r.cid for r in
            lsh_topk_from_index(spark, lsh, ext, k=1, exclude_self=False).collect()}
    assert all(got2[q] == q + 100 for q in got2), got2


def test_pagerank_mass_and_skew(spark, sf_dir):
    """Fixed-point PageRank invariants: (a) total mass stays within the
    floor-truncation budget of 1e12 (each node loses < out_degree + 2
    units per iteration across its floors); (b) the quadratic-scatter
    graph produces genuinely non-uniform ranks (many distinct values) —
    a regression guard against silently reverting to a regular graph,
    where uniform ranks would make the oracle comparison vacuous."""
    from pysparkdb.pipeline.graph import TOTAL_UNITS
    from pysparkdb.queries import load_all

    rows = load_all()["graph_pagerank"].fn(spark, sf_dir).collect()
    n = len(rows)
    total = sum(r.units for r in rows)
    assert total <= TOTAL_UNITS
    assert total >= TOTAL_UNITS - n * 5 * 10  # 10 iterations, <5 units/node each
    assert len({r.units for r in rows}) > n // 10
    top = max(r.units for r in rows)
    assert top > 2 * TOTAL_UNITS // n  # hubs exist: max rank ≫ uniform 1/n


def test_fuzzy_join_banding_matches_bruteforce(spark, sf_dir):
    """Losslessness of the (lang, band) blocking: edit_distance_pairs
    must return exactly the brute-force within-language pair set —
    every qualifying pair meets in exactly one band (no misses from
    band boundaries, no duplicates from the 3-way replication)."""
    from pyspark.sql import functions as F

    from pysparkdb.pipeline.dedup import edit_distance_pairs
    from pysparkdb.queries.base import tables

    d = tables(spark, sf_dir)["documents"]
    field = F.expr("substr(text, 1, 20 + doc_id % 30)")
    banded = {
        (r.doc_a, r.doc_b, r.dist)
        for r in edit_distance_pairs(d, field, threshold=10, band_width=12).collect()
    }
    s = d.select("doc_id", "lang", field.alias("s"))
    brute = {
        (r.doc_a, r.doc_b, r.dist)
        for r in (
            s.alias("a")
            .join(
                s.alias("b"),
                (F.col("a.lang") == F.col("b.lang"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.levenshtein(F.col("a.s"), F.col("b.s")).alias("dist"),
            )
            .filter(F.col("dist") <= 10)
        ).collect()
    }
    assert banded == brute


def test_bfs_seed_zero_and_frontier_growth(spark, sf_dir):
    """BFS sanity beyond the oracle: seeds report 0 hops, every hop count
    0..max appears (the synthetic graph is connected enough that no level
    is empty at depth 6), and hop counts never exceed the cap."""
    from pysparkdb.queries import load_all

    rows = load_all()["graph_bfs"].fn(spark, sf_dir).collect()
    by_hops = {}
    for r in rows:
        by_hops.setdefault(r.hops, set()).add(r.doc_id)
    assert by_hops[0] == {0, 1, 2}
    assert max(by_hops) <= 6
    assert all(by_hops[h] for h in range(0, max(by_hops) + 1))


def test_train_pipeline_demo_end_to_end(spark, sf_dir, tmp_path):
    """The composed training-corpus build (scripts/train_pipeline_demo):
    ingest (clean+versioned) → zordered compaction → pinned-version
    curation → mix → pack. Invariants: each stage only removes documents;
    the pack manifest conserves the mixed set's docs and tokens; the
    pinned version is unaffected by the compaction version that follows."""
    import sys as _sys

    _sys.path.insert(0, "scripts")
    from train_pipeline_demo import run

    from pysparkdb.pipeline.text import token_count
    from pysparkdb.sources.versioned import snapshot_read

    stats = run(spark, sf_dir, str(tmp_path))
    assert stats["landed"] >= stats["ingested_clean"] >= stats["curated"] >= stats["mixed"]
    assert stats["mixed"] > 0
    assert stats["packed_docs"] == stats["mixed"]
    # pinned version still readable and smaller than the raw landing set
    pinned = snapshot_read(spark, str(tmp_path / "corpus"), stats["pinned_version"])
    assert pinned.count() == stats["ingested_clean"]
    # compaction committed a later version over the same rows
    assert stats["versions"][-1] > stats["pinned_version"]
    latest = snapshot_read(spark, str(tmp_path / "corpus"))
    assert latest.count() == stats["ingested_clean"]


def test_pagerank_deep_checkpoint_schedule_is_invisible(spark, sf_dir):
    """The checkpoint schedule is an execution detail: a deep run
    (iterations > checkpoint_interval, exercising the persist/
    materialize/release path) must produce BIT-IDENTICAL units to the
    same iterations run shallow, and must release its persisted frames
    (edges + interval checkpoints) — at most the returned result's own
    checkpoint may remain cached."""
    from pyspark.sql import functions as F

    from pysparkdb.pipeline import graph
    from pysparkdb.queries.base import tables

    nodes = tables(spark, sf_dir)["documents"].select("doc_id")
    n = nodes.count()
    edges = graph.synthetic_link_graph(nodes, n, 3)
    shallow = {
        r.doc_id: r.units
        for r in graph.pagerank(nodes, edges, n, 3, iterations=12,
                                checkpoint_interval=12).collect()
    }
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    deep_df = graph.pagerank(nodes, edges, n, 3, iterations=12,
                             checkpoint_interval=5)
    deep = {r.doc_id: r.units for r in deep_df.collect()}
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert deep == shallow
    assert after - before <= 1, (before, after)  # only the result checkpoint


def test_naive_bayes_learns_separable_corpus(spark):
    """The learning certificate for naive_bayes_predict: the registered
    query's corpus shares one vocabulary across languages (so accuracy
    there reflects priors — documented); HERE a planted separable corpus
    (per-class marker tokens + shared noise) must score ≥ 95 %, proving
    the count→smooth→log-sum→argmax pipeline actually conditions on
    token-class evidence and not just the prior."""
    from pysparkdb.pipeline.text import naive_bayes_predict

    rows = []
    for li, lang in enumerate(("aa", "bb", "cc")):
        for d in range(40):
            doc_id = li * 1000 + d
            marker = f"marker_{lang}"
            body = " ".join(
                [marker] * 3 + [f"noise{(d + k) % 7}" for k in range(5)])
            rows.append((doc_id, body, lang))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pred = naive_bayes_predict(df).collect()
    assert len(pred) == 60  # odd ids score
    acc = sum(1 for r in pred if r.predicted == r.actual) / len(pred)
    assert acc >= 0.95, f"NB failed to learn a separable corpus: {acc:.0%}"
    # and the prior alone would NOT reach that (classes are balanced):
    # a majority-class guesser scores ~1/3 here


def test_snapshot_pipeline_workdirs_stay_off_tmpfs(spark, sf_dir, monkeypatch,
                                                   tmp_path):
    """Snapshot-pipeline workdirs hold corpus-sized data, so they go to the
    platform tempdir unless PYSPARKDB_SCRATCH is set — never to the
    /dev/shm default that only stream checkpoints get."""
    import tempfile

    from pysparkdb import scratch

    monkeypatch.delenv("PYSPARKDB_SCRATCH", raising=False)
    made = []
    mkdtemp = tempfile.mkdtemp

    def spy(*a, **kw):
        made.append((kw.get("prefix"), kw.get("dir")))
        return mkdtemp(*a, **kw)

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    load_all()["pipeline_schema_evolution"].fn(spark, sf_dir).collect()
    assert ("schemaevo-", None) in made, made

    monkeypatch.setenv("PYSPARKDB_SCRATCH", str(tmp_path))
    assert scratch.workdir_root() == str(tmp_path) == scratch.scratch_root()
