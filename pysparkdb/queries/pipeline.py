"""LLM-pipeline queries over documents/embeddings — registry entries.

Dedup, similarity search, text analysis, multimodal plumbing (SURVEY §7.2
M4, beyond-reference). SQL-expressible ops carry full DuckDB oracles; the
hash-based candidate generators (MinHash bands, SimHash bands, hyperplane
LSH) use xxhash64/seeded planes that DuckDB can't reproduce, so they get the
rows-only check — their *quality* is asserted against the exact baselines in
tests/test_pipeline.py instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pysparkdb.pipeline import cluster, dedup, graph, multimodal, similarity, text
from pysparkdb.queries import register
from pysparkdb.queries.base import bigint, tables

# DuckDB-side shingle expression (word 3-grams, distinct), mirroring
# pysparkdb.pipeline.text.word_shingles.
_DUCK_SHINGLES = (
    "list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t)-1)])"
)

_DUCK_JACCARD = f"""
    WITH sh AS (SELECT doc_id,
                       unnest({_DUCK_SHINGLES}) AS s
                FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b, c / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE c / (sa.n + sb.n - c) >= {{t}}
"""

# DuckDB-side double dot product, sequential fold like Spark's aggregate().
def _duck_dot(a: str, b: str) -> str:
    return f"list_sum([{a}[i] * {b}[i] for i in range(1, 65)])"


@register(
    "dedup_exact",
    r"""
    SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY fp
    """,
    "pipeline", "dedup",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup by normalized-text digest; survivor = min doc_id."""
    return dedup.exact_duplicates(tables(spark, sf_dir)["documents"])


@register(
    "dedup_ngram_jaccard",
    _DUCK_JACCARD.format(t=0.1),
    "pipeline", "dedup",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard near-dup pairs at t=0.1 (shingle-collision
    join — only pairs sharing a shingle are materialized)."""
    return dedup.ngram_jaccard_pairs(tables(spark, sf_dir)["documents"], threshold=0.1)


@register(
    "dedup_minhash_lsh",
    # Self-certifying: xxhash64 signatures aren't reproducible in DuckDB,
    # but the exact-Jaccard ground truth IS — the Spark side emits the
    # checked invariant (LSH pairs ⊆ exact pairs, recall == 1 on this
    # clone-heavy corpus, b=16/r=2 ⇒ P(candidate|J≥0.5) ≈ .99) plus the
    # DuckDB-verifiable exact-pair count.
    f"""
    WITH pairs AS ({_DUCK_JACCARD.format(t=0.5)})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           TRUE AS precision_ok, TRUE AS recall_ok
    FROM pairs
    """,
    "pipeline", "dedup", "lsh",
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32)+LSH(16 bands × 2 rows) candidates, exact-Jaccard-verified
    at t=0.5 — the scalable two-phase near-dup shape. max_doc_freq=256 is
    the stop-shingle fan-out guard: far above this corpus's max shingle
    doc-freq (25 at sf0.1, recall unaffected), it bounds the verify join
    against boilerplate shingles at real corpus scale.

    Registered form is the driver-checkable invariant: the LSH pair set is
    compared (distributed, semi/anti joins — no collect) against the exact
    shingle-Jaccard pair set at the same threshold; precision_ok ⇔ every
    LSH pair is an exact pair, recall_ok ⇔ every exact pair was found.

    Cost structure: the certificate needs the FULL exact pair set as
    ground truth anyway, so the LSH side is reconstructed as
    candidates ∩ exact (band candidates from dedup.minhash_band_candidates,
    the full exact frame persisted and shared by both compare sides)
    instead of re-running the library's candidate-subset verify — which
    would shingle-join a second time for pairs the ground-truth pass
    already scored. Equivalence: minhash_lsh_pairs ≡ exact(cand docs) ∩
    candidates, and a pair's jaccard does not depend on which other docs
    are present, so exact(all) ∩ candidates is the same set (max_doc_freq
    never fires on this corpus — max shingle doc-freq 25 ≪ 256). The
    library's subset-verify path (the true 100 TB shape, where full exact
    is unaffordable) is exercised with recall floors in
    tests/test_pipeline.py."""
    from pysparkdb.pins import pin

    d = tables(spark, sf_dir)["documents"]
    exact = pin(dedup.ngram_jaccard_pairs(d, threshold=0.5))
    candidates = dedup.minhash_band_candidates(d)
    lsh = exact.join(candidates, ["doc_a", "doc_b"], "left_semi")
    return _pair_set_compare(lsh, exact)


def _pair_set_compare(got, truth):
    """One-plan distributed set compare of (doc_a, doc_b) pair frames:
    (n_exact_pairs, precision_ok = got ⊆ truth, recall_ok = truth ⊆ got).
    Union + groupBy — no collect, no driver-side loop; shuffle volume is
    the pair sets themselves."""
    g = got.select("doc_a", "doc_b", F.lit(1).alias("g"), F.lit(0).alias("t"))
    t = truth.select("doc_a", "doc_b", F.lit(0).alias("g"), F.lit(1).alias("t"))
    sets = (
        g.unionAll(t)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("g").alias("g"), F.max("t").alias("t"))
    )
    def _zero(c):  # empty input → SUM yields NULL; treat as 0
        return F.coalesce(c, F.lit(0))

    return sets.agg(
        _zero(F.sum("t")).cast("long").alias("n_exact_pairs"),
        (_zero(F.sum(F.when((F.col("g") == 1) & (F.col("t") == 0), 1).otherwise(0))) == 0)
        .alias("precision_ok"),
        (_zero(F.sum(F.when((F.col("t") == 1) & (F.col("g") == 0), 1).otherwise(0))) == 0)
        .alias("recall_ok"),
    )


@register(
    "dedup_simhash",
    # Self-certifying: the xxhash64-based fingerprint isn't reproducible in
    # DuckDB, but the banding THEOREM is checkable engine-side — pigeonhole
    # (4 bands × 8 bits, Hamming ≤ 3 ⇒ ≥1 band equal) says the banded pair
    # set must equal the brute-force all-pairs Hamming scan of the same
    # fingerprints. The oracle pins the corpus size; the booleans certify
    # band completeness/soundness.
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS bands_complete, TRUE AS bands_sound
    FROM documents
    """,
    "pipeline", "dedup", "lsh",
)
def dedup_simhash(spark, sf_dir):
    """SimHash(32-bit) near-dup pairs at Hamming ≤ 3 via 8-bit band join.

    Registered form is the driver-checkable invariant: the banded pair set
    is compared (distributed) against the brute-force O(n²) Hamming scan of
    the same fingerprints — bands_complete ⇔ banding lost no pair
    (pigeonhole exhaustiveness), bands_sound ⇔ it added none. Brute force
    is a codegen popcount over the n² id pairs — fine at test scale, and
    exactly the check you'd run on a sample before trusting the banded
    path on the full corpus. Raw pairs: dedup.simhash_pairs (library
    output, exercised by tests/test_pipeline.py). The fingerprint frame
    (16 bytes/doc) is computed once and persisted — banded and both brute
    branches share it instead of re-running the token explode 3×."""
    from pysparkdb.pins import pin

    d = tables(spark, sf_dir)["documents"]
    sims = pin(dedup.simhash(d))
    banded = dedup.simhash_pairs(d, sims=sims).select("doc_a", "doc_b")
    a = sims.select(F.col("did").alias("doc_a"), F.col("simhash").alias("sim_a"))
    b = sims.select(F.col("did").alias("doc_b"), F.col("simhash").alias("sim_b"))
    brute = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))) <= 3)
        .select("doc_a", "doc_b")
    )
    cmp = _pair_set_compare(banded, brute)
    n_docs = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return n_docs.crossJoin(
        cmp.select(
            F.col("recall_ok").alias("bands_complete"),
            F.col("precision_ok").alias("bands_sound"),
        )
    )


@register(
    "dedup_embedding",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_duck_dot('v', 'v')}) AS nrm FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_duck_dot('a.v', 'b.v')} / (a.nrm * b.nrm) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE {_duck_dot('a.v', 'b.v')} / (a.nrm * b.nrm) > 0.4
    """,
    "pipeline", "dedup", "similarity",
)
def dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (> 0.4), exact brute force; double
    dot products fold sequentially on both sides → oracle-exact."""
    return similarity.cosine_pairs(tables(spark, sf_dir)["embeddings"], threshold=0.4)


@register(
    "dedup_embedding_lsh",
    # Self-certifying (the dedup_simhash pattern): seeded hyperplanes are
    # not reproducible in DuckDB, but the planted ground truth IS — the
    # oracle pins the clone-pair count (one per corpus vector); the
    # booleans certify the bucketed path found exactly that set.
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clone_pairs,
           TRUE AS precision_ok, TRUE AS recall_ok
    FROM embeddings
    """,
    "pipeline", "dedup", "similarity", "lsh",
)
def dedup_embedding_lsh(spark, sf_dir):
    """The embedding near-dup SCALE path, certified: brute-force
    dedup_embedding is the O(n²) oracle baseline; this is the bucketed
    form a 100 TB corpus runs (similarity.lsh_near_dup_pairs: sign-LSH
    same-bucket candidates → exact-cosine verify). Ground truth is
    PLANTED inside the query (the synthetic_link_graph precedent): every
    corpus vector gets a direction-identical clone — scaled ×1.01, so
    byte-level exact dedup can NOT catch it (the re-encoded/renormalized
    duplicate of real vector stores) while cosine is exactly 1. Clones
    agree with their originals on every hyperplane sign, so each clone
    pair collides in all 8 tables (recall is deterministically total),
    corpus pairs top out at cosine ≈0.51 ≪ 0.95 (the verify join keeps
    none), and the certificate set is exactly the n planted pairs:
    precision_ok ⇔ verified pairs ⊆ planted, recall_ok ⇔ planted ⊆
    found, both computed distributed (_pair_set_compare, no collect).

    Scale shape: candidates are id-pairs off a bucket-keyed self-join
    ((1/2)^8 random-pair survival per table); vectors re-join only for
    verified candidates; the planted offset is a constant, not a count."""
    e = tables(spark, sf_dir)["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    off = 10**9
    clones = e.select(
        (F.col("vec_id") + off).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.01).alias("embedding"),
    )
    corpus = e.unionByName(clones)
    found = similarity.lsh_near_dup_pairs(corpus, threshold=0.95)
    truth = e.select(
        F.col("vec_id").alias("doc_a"), (F.col("vec_id") + off).alias("doc_b")
    )
    return _pair_set_compare(
        found.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")),
        truth,
    ).withColumnRenamed("n_exact_pairs", "n_clone_pairs")


@register(
    "ann_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_duck_dot('v', 'v')}) AS nrm FROM e),
    scored AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
                      {_duck_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cosine
               FROM n q JOIN n c ON q.vec_id <> c.vec_id
               WHERE q.vec_id < 50)
    SELECT qid, cid, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, cid ASC) AS rnk
          FROM scored)
    WHERE rnk <= 1
    """,
    "pipeline", "similarity",
)
def ann_topk(spark, sf_dir):
    """Exact top-1 cosine neighbor for query vectors (vec_id < 50) — the
    brute-force baseline for similarity search; ties broken by cid."""
    return similarity.topk_neighbors(
        tables(spark, sf_dir)["embeddings"], k=1, query_filter=F.col("vec_id") < 50
    )


@register(
    "ann_lsh",
    # Self-certifying: seeded hyperplane literals are impractical to mirror
    # in SQL, so the Spark side emits the checked quality invariant — for
    # queries whose TRUE nearest neighbor is genuinely near (cosine ≥ 0.8,
    # where the (nbits=6, L=8) math promises ≥95% recall), the LSH answer
    # must match the exact answer ≥ 90% of the time. The oracle pins the
    # query-set size.
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS near_recall_ok
    FROM embeddings WHERE vec_id < 50
    """,
    "pipeline", "similarity", "lsh",
)
def ann_lsh(spark, sf_dir):
    """Approximate top-1 neighbor via random-hyperplane LSH buckets (the
    scale path: per-query candidate set shrinks 2^nbits-fold).

    Registered form is the driver-checkable invariant: LSH top-1 vs exact
    top-1 (both distributed, joined on query id — no collect); recall is
    measured over the near-neighbor subset (exact cosine ≥ 0.8), the regime
    LSH contracts for. Raw neighbor rows: similarity.lsh_topk_neighbors
    (library output, exercised by tests/test_pipeline.py)."""
    e = tables(spark, sf_dir)["embeddings"]
    qf = F.col("vec_id") < 50
    approx = similarity.lsh_topk_neighbors(e, dim=64, k=1, query_filter=qf)
    exact = similarity.topk_neighbors(e, k=1, query_filter=qf)
    return _ann_recall_certificate(e, approx, exact, near_cos=0.8, floor=0.9,
                                   ok_col="near_recall_ok", query_filter=qf)


def _ann_recall_certificate(emb, approx, exact, near_cos, floor, ok_col,
                            query_filter):
    """(n_queries, <ok_col>) in one distributed plan: recall@1 of ``approx``
    vs ``exact`` over exact-neighbor rows with cosine ≥ ``near_cos``; ok ⇔
    recall ≥ floor (vacuously true when no query clears near_cos).
    ``query_filter`` must be the SAME predicate the caller passed to both
    search paths — the certificate counts n_queries over it, so a
    duplicated magic constant here would silently count the wrong
    population when a caller's query set changes."""
    ex = exact.select(
        F.col("qid"), F.col("cid").alias("true_cid"), F.col("cosine").alias("true_cos")
    ).filter(F.col("true_cos") >= near_cos)
    ap = approx.select("qid", F.col("cid").alias("got_cid"))
    hits = ex.join(ap, "qid", "left").agg(
        F.coalesce(
            F.avg(F.when(F.col("got_cid") == F.col("true_cid"), 1.0).otherwise(0.0)),
            F.lit(1.0),
        ).alias("recall")
    )
    n_q = emb.filter(query_filter).agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    return n_q.crossJoin(hits.select((F.col("recall") >= floor).alias(ok_col)))


@register(
    "text_tokens",
    "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",
    "pipeline", "text",
)
def text_tokens(spark, sf_dir):
    """Whitespace token counting (the BPE-regex variant would swap the
    splitter; counting shape is identical)."""
    d = tables(spark, sf_dir)["documents"]
    return d.select("doc_id", text.token_count("text").alias("n_tokens"))


@register(
    "text_quality",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           (length(text) - len(string_split(text, ' ')) + 1)
             / len(string_split(text, ' ')) AS avg_word_len,
           len(list_filter(string_split(text, ' '), t -> t = 'a' OR t = 'the'))
             / len(string_split(text, ' ')) AS stopword_ratio,
           (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END
            + CASE WHEN len(list_filter(string_split(text, ' '), t -> t = 'a' OR t = 'the'))
                        / len(string_split(text, ' ')) > 0.02 THEN 1.0 ELSE 0.0 END
            + CASE WHEN (length(text) - len(string_split(text, ' ')) + 1)
                        / len(string_split(text, ' ')) < 10 THEN 1.0 ELSE 0.0 END) / 3.0
             AS quality_score
    FROM documents
    """,
    "pipeline", "text",
)
def text_quality(spark, sf_dir):
    """Per-doc quality features (length/stopword/word-length heuristics)."""
    return text.quality_metrics(tables(spark, sf_dir)["documents"])


@register(
    "text_langid",
    """
    SELECT pred_lang, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN len(list_filter(string_split(text, ' '), t -> t = 'a' OR t = 'the'))
                       / len(string_split(text, ' ')) >= 0.08 THEN 'en'
                  WHEN len(string_split(text, ' ')) > 60 THEN 'und-long'
                  ELSE 'und' END AS pred_lang
      FROM documents) p
    GROUP BY pred_lang
    """,
    "pipeline", "text",
)
def text_langid(spark, sf_dir):
    """Heuristic n-gram/stopword language ID, aggregated by prediction."""
    d = tables(spark, sf_dir)["documents"]
    return (
        text.lang_id(d)
        .groupBy("pred_lang")
        .agg(bigint(F.count(F.lit(1))).alias("n"))
    )


@register(
    "text_fingerprint",
    r"""
    SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
    "pipeline", "text",
)
def text_fingerprint(spark, sf_dir):
    """Normalized-text md5 fingerprint per document."""
    return text.fingerprint(tables(spark, sf_dir)["documents"])


@register(
    "mm_binary_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    "pipeline", "multimodal",
)
def mm_binary_meta(spark, sf_dir):
    """Multimodal plumbing: pack text as an opaque binary payload, extract
    typed metadata via Arrow-batched mapInPandas (the real decode shape;
    codecs stubbed per pysparkdb.pipeline.multimodal)."""
    d = tables(spark, sf_dir)["documents"]
    packed = multimodal.to_binary_column(d)
    with_meta = multimodal.extract_metadata(packed)
    return with_meta.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
    )


@register(
    "mm_resize",
    # Full value oracle: the deterministic fake resampler samples payload
    # byte min(i·step, len−1), step = max(len//16, 1) — on this pure-ASCII
    # corpus (verified: octet_length(encode(text)) == length(text) for
    # every row) payload bytes ARE ascii() codes, so DuckDB replays the
    # sampling exactly. Pixels are emitted as the comma-joined recovered
    # byte values (round(p·255) is exact: |p·255 − b| < 3 ulp).
    """
    SELECT doc_id, CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
           array_to_string(
             [ascii(substr(text,
                           least(i * greatest(length(text) // 16, 1),
                                 length(text) - 1) + 1, 1))
              for i in range(0, 16)], ',') AS px
    FROM documents
    """,
    "pipeline", "multimodal",
)
def mm_resize(spark, sf_dir):
    """Image-resize plumbing (STUBBED codec): binary payloads → 4×4 pixel
    grids via the deterministic fake resampler over mapInPandas. The
    registered projection recovers the sampled byte values from the
    normalized pixels so the oracle compare is value-exact; the raw
    array<double> form stays a library output exercised by
    tests/test_pipeline.py."""
    d = tables(spark, sf_dir)["documents"]
    grids = multimodal.resize_image(multimodal.to_binary_column(d), fake=True)
    return grids.select(
        "doc_id",
        "width",
        "height",
        F.concat_ws(
            ",", F.transform(F.col("pixels"), lambda p: F.round(p * 255).cast("int"))
        ).alias("px"),
    )


@register(
    "mm_frame_sample",
    """
    SELECT doc_id, CAST(idx AS INT) AS frame_idx,
           CAST(octet_length(encode(text)) AS BIGINT) AS total_bytes
    FROM documents, (SELECT UNNEST([0, 1, 2]) AS idx)
    """,
    "pipeline", "multimodal",
)
def mm_frame_sample(spark, sf_dir):
    """Frame-sampling fan-out (STUBBED codec): each payload yields 3 frame
    rows through mapInPandas; the oracle checks the fan-out shape
    (doc × frame_idx grid) plus the conserved payload size."""
    d = tables(spark, sf_dir)["documents"]
    frames = multimodal.sample_frames(multimodal.to_binary_column(d), fake=True)
    total = frames.groupBy("doc_id").agg(
        F.sum(F.octet_length("frame")).alias("total_bytes")
    )
    return frames.join(total, "doc_id").select(
        "doc_id", "frame_idx", F.col("total_bytes").cast("long").alias("total_bytes")
    )


@register(
    "text_tokens_bpe",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS BIGINT) AS n_tokens
    FROM documents
    """,
    "pipeline", "text",
)
def text_tokens_bpe(spark, sf_dir):
    """BPE-ish regex token counting (word / number / punctuation classes —
    the pre-tokenizer split most BPE vocabularies assume), the second
    counting mode the pipeline brief asks for next to whitespace tokens."""
    d = tables(spark, sf_dir)["documents"]
    n = F.size(F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)))
    return d.select("doc_id", n.cast("long").alias("n_tokens"))


@register(
    "mm_audio_features",
    # Full value oracle: bytes-as-signed-int8 on a pure-ASCII corpus are
    # the ascii() codes (all ≤ 127 ⇒ sign-extension is the identity),
    # CENTERED at 64 to match the fake decode (sample = code − 64, so the
    # sign-change kernel sees real crossings — raw ASCII is all-positive
    # and would pin zero_crossings to a vacuous constant 0). Sums of
    # squared samples are exact integers in double (≤ 192²·n ≪ 2^53), so
    # rms = sqrt(sum/n) is bit-identical regardless of summation order;
    # zero-crossings are exact integer counts.
    """
    WITH b AS (
      SELECT doc_id,
             [CASE WHEN ascii(c) > 127 THEN ascii(c) - 256 ELSE ascii(c) END
              - 64 for c in string_split(text, '')] AS s
      FROM documents)
    SELECT doc_id,
           sqrt(list_sum([CAST(x * x AS DOUBLE) for x in s]) / len(s)) AS rms,
           CAST(COALESCE(list_sum(
             [CASE WHEN (s[i] < 0) <> (s[i+1] < 0) THEN 1 ELSE 0 END
              for i in range(1, len(s))]), 0) AS BIGINT) AS zero_crossings
    FROM b
    """,
    "pipeline", "multimodal",
)
def mm_audio_features(spark, sf_dir):
    """Audio-feature plumbing (STUBBED codec): binary payloads → RMS +
    zero-crossing features via numpy-vectorized mapInPandas. Value-exact
    vs the oracle: integer sums of squares are order-insensitive in
    double, and the corpus is pure ASCII so DuckDB sees the same
    centered signed-int8 samples (see decode_audio for why the fake
    centers at 64)."""
    d = tables(spark, sf_dir)["documents"]
    return multimodal.decode_audio(multimodal.to_binary_column(d), fake=True)


@register(
    "ann_ivf",
    # Self-certifying (same shape as ann_lsh): data-adaptive centroids are
    # impractical to mirror in SQL; the Spark side emits overall recall@1 ≥
    # 0.6 vs the exact baseline (the floor the IVF config (nlist=8,
    # nprobe=2) sustains on this corpus — asserted at both test scales).
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 50
    """,
    "pipeline", "similarity", "ivf",
)
def ann_ivf(spark, sf_dir):
    """Approximate top-1 neighbor via IVF cells (data-adaptive coarse
    quantizer, nprobe=2 of 8 cells) — the second ANN scale path next to
    ann_lsh; recall per probed fraction is higher on clustered corpora.

    Registered form is the driver-checkable invariant: IVF top-1 vs exact
    top-1 over ALL queries (near_cos=-1 ⇒ no subset restriction), floor
    0.6. Raw neighbor rows: similarity.ivf_topk_neighbors (library output,
    exercised by tests/test_pipeline.py)."""
    e = tables(spark, sf_dir)["embeddings"]
    qf = F.col("vec_id") < 50
    approx = similarity.ivf_topk_neighbors(e, dim=64, k=1, query_filter=qf)
    exact = similarity.topk_neighbors(e, k=1, query_filter=qf)
    return _ann_recall_certificate(e, approx, exact, near_cos=-1.0, floor=0.6,
                                   ok_col="recall_ok", query_filter=qf)


@register(
    "text_rolling_hash",
    """
    SELECT doc_id,
           list_reduce(
             [CAST(ascii(c) AS BIGINT) FOR c IN string_split(text, '')],
             (acc, x) -> (acc * 31 + x) % 1000000007
           ) AS rhash
    FROM documents WHERE length(text) > 0
    """,
    "pipeline", "text", "fingerprint",
)
def text_rolling_hash(spark, sf_dir):
    """Polynomial rolling-hash document fingerprint (base 31 mod 1e9+7)
    over character codes — the incremental-update fingerprint the pipeline
    brief names next to the md5 digest (text_fingerprint). Exact integer
    math, so the fold is engine-reproducible; both engines seed with the
    first character's code and fold the rest."""
    d = tables(spark, sf_dir)["documents"].filter(F.length("text") > 0)
    rhash = F.expr(
        """
        aggregate(
          slice(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
                2, size(split(text, '')) - 1),
          CAST(ascii(substring(text, 1, 1)) AS BIGINT),
          (acc, x) -> (acc * 31 + x) % 1000000007
        )
        """
    )
    return d.select("doc_id", rhash.alias("rhash"))


@register(
    "pipeline_clean",
    """
    WITH toks AS (
      SELECT doc_id, lang, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    quality AS (SELECT * FROM toks WHERE n_tokens BETWEEN 20 AND 1000),
    survivors AS (
      SELECT min(doc_id) AS doc_id, min(lang) AS lang
      FROM (SELECT doc_id, lang,
                   md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
            FROM quality)
      GROUP BY fp
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM survivors GROUP BY lang
    """,
    "pipeline", "dedup", "text", "composite",
)
def pipeline_clean(spark, sf_dir):
    """End-to-end cleaning pipeline in one plan: quality gate (token-count
    band) → exact dedup (survivor = min doc_id per normalized-text digest)
    → per-language survivor counts. The composition the LLM-data run
    chains nightly; every stage is the already-tested operator, fused by
    Catalyst into scan → hash-agg → hash-agg with no extra passes."""
    d = tables(spark, sf_dir)["documents"]
    quality = d.filter(text.token_count("text").between(20, 1000))
    survivors = (
        quality.select(
            text.normalized_fingerprint("text").alias("fp"),
            "doc_id", "lang",
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang"))
    )
    return survivors.groupBy("lang").agg(bigint(F.count(F.lit(1))).alias("n_docs"))


@register(
    "text_chunk",
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(greatest(length(text) - 200, 0) / 150.0)
                             AS BIGINT) + 1)) AS i
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
           substr(text, CAST(i * 150 + 1 AS INTEGER), 200) AS chunk
    FROM idx
    """,
    "pipeline", "text", "chunk",
)
def text_chunk(spark, sf_dir):
    """Overlapping character chunking (size 200, stride 150) of every
    document — the context-window packing step before tokenization. Map-side
    explode, no shuffle; oracle-exact against DuckDB's unnest(range())."""
    return text.chunk_text(tables(spark, sf_dir)["documents"], size=200, stride=150)


@register(
    "text_domain_cap",
    """
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS STRING)), doc_id)
               AS rn
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN rn <= 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn <= 20 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_checksum
    FROM ranked GROUP BY source
    """,
    "pipeline", "text", "sampling", "curation",
)
def text_domain_cap(spark, sf_dir):
    """Per-domain document cap — the template-domination guard of corpus
    curation (a handful of boilerplate-heavy domains must not dominate
    the training mix): keep at most N=20 documents per source, selected
    by a DETERMINISTIC per-domain ranking (md5(doc_id) order, doc_id
    tie-break) so the kept set is a pure function of the corpus —
    reproducible across engines/runs/partitionings, like every sampler
    here. The kept_checksum (sum of kept doc_ids) certifies exact
    MEMBERSHIP, not just counts.

    Scale shape: one shuffle by source + per-group top-N. Domain keys are
    Zipf-skewed at corpus scale; the window's rank stops scanning a
    group's sorted run after the cap only logically — the physical sort
    still ranks every row, so a 100 TB run pre-trims with the cheap
    threshold form first (keep if md5-prefix < cap/|domain| estimate, the
    text_stratified_sample idiom) and applies the exact window to the
    survivors; AQE handles the residual skew. N is exact either way."""
    from pyspark.sql import Window

    d = tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select("source", "doc_id", F.row_number().over(w).alias("rn"))
    kept = F.when(F.col("rn") <= 20, 1).otherwise(0)
    kept_id = F.when(F.col("rn") <= 20, F.col("doc_id")).otherwise(F.lit(0))
    return ranked.groupBy("source").agg(
        bigint(F.count(F.lit(1))).alias("n_total"),
        bigint(F.sum(kept)).alias("n_kept"),
        bigint(F.sum(kept_id)).alias("kept_checksum"),
    )


@register(
    "text_stratified_sample",
    """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM documents
    WHERE substr(md5(CAST(doc_id AS STRING)), 1, 2)
          < CASE WHEN lang = 'en' THEN '20' ELSE '80' END
    GROUP BY lang
    """,
    "pipeline", "text", "sampling",
)
def text_stratified_sample(spark, sf_dir):
    """Stratified deterministic sampling: 1/8 of 'en' docs (hex '20' =
    32/256), 1/2 of every other language — the class-rebalancing step of a
    training-data mix. Membership is a pure function of doc_id (md5 prefix
    against a per-stratum hex threshold), so the sample is reproducible
    across engines/runs/partitionings — unlike sampleBy(), whose
    rand()-based picks no oracle can replay. The md5 threshold is a
    computed predicate (filters in the scan stage, not at the parquet
    reader)."""
    d = tables(spark, sf_dir)["documents"]
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thresh = F.when(F.col("lang") == "en", F.lit("20")).otherwise(F.lit("80"))
    return (
        d.filter(prefix < thresh)
        .groupBy("lang")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_sampled"),
            bigint(F.min("doc_id")).alias("first_doc"),
        )
    )


@register(
    "emb_norm_stats",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT label, sqrt({_duck_dot('v', 'v')}) AS nrm FROM e)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
           CAST(SUM(CAST(nrm AS DECIMAL(25,6))) AS DOUBLE) AS sum_norm
    FROM n GROUP BY label
    """,
    "pipeline", "similarity", "stats",
)
def emb_norm_stats(spark, sf_dir):
    """Per-label embedding-norm statistics — the sanity profile run before
    any ANN build (zero-norm and scale-drift vectors break cosine). Norms
    fold sequentially (same shape as dedup_embedding) so the doubles are
    bit-identical to the oracle's; the aggregate is one hash shuffle of
    (label, norm) pairs."""
    from pysparkdb.pipeline.similarity import norm, _as_double

    e = tables(spark, sf_dir)["embeddings"]
    nrm = norm(_as_double(F.col("embedding")))
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_vecs"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            F.sum(F.col("nrm").cast("decimal(25,6)")).cast("double").alias("sum_norm"),
        )
    )


@register(
    "mm_chunk_audio",
    # Full value oracle (same ASCII/int8 argument as mm_audio_features,
    # uncentered — framing is byte-layout work, not feature math):
    # window starts are 0, 128, …; the last window is the first whose
    # start+256 reaches the payload end, so the window count is
    # ceil(max(len−256, 0)/128)+1 — the text_chunk formula at
    # (size=256, stride=128). Per-window RMS over exact integer sums.
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(greatest(length(text) - 256, 0) / 128.0)
                             AS BIGINT) + 1)) AS w
      FROM documents),
    seg AS (
      SELECT doc_id, w,
             [CASE WHEN ascii(c) > 127 THEN ascii(c) - 256 ELSE ascii(c) END
              for c in string_split(
                substr(text, CAST(w * 128 + 1 AS INTEGER), 256), '')] AS s
      FROM idx)
    SELECT doc_id, CAST(w AS BIGINT) AS window_id,
           CAST(w * 128 AS BIGINT) AS start_byte,
           CAST(len(s) AS BIGINT) AS n_bytes,
           sqrt(list_sum([CAST(x * x AS DOUBLE) for x in s]) / len(s)) AS rms
    FROM seg
    """,
    "pipeline", "multimodal",
)
def mm_chunk_audio(spark, sf_dir):
    """Overlapping fixed-byte audio framing (256 B windows, 128 B hop)
    with per-window RMS over document payloads-as-audio — the framing
    step before any spectral feature, through the real mapInPandas
    plumbing. The registered query frames at 256/128, NOT the library's
    1024/512 default: the longest sf0.01 document is 553 bytes, so a
    1 KiB window never advances past window 0 and the overlap/cutover
    arithmetic — the point of framing — would go unexercised at the
    correctness SF (the round-8 vacuity lens); at 256/128 most documents
    span 2-4 windows. Value-exact vs the oracle on the pure-ASCII corpus
    (integer sums-of-squares → deterministic doubles)."""
    d = tables(spark, sf_dir)["documents"]
    audio = multimodal.to_binary_column(d)
    return multimodal.chunk_audio(audio, window_bytes=256, hop_bytes=128, fake=True)


@register(
    "dedup_decontaminate",
    f"""
    WITH split AS (SELECT doc_id, text,
                          substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                            IN ('0', '1') AS is_bench
                   FROM documents),
    sh AS (SELECT doc_id, is_bench, unnest({_DUCK_SHINGLES}) AS s
           FROM (SELECT doc_id, is_bench, string_split(text, ' ') AS t
                 FROM split)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS train_id, b.doc_id AS bench_id,
                      COUNT(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s
               WHERE NOT a.is_bench AND b.is_bench
               GROUP BY 1, 2)
    SELECT train_id, bench_id, c / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sizes sa ON train_id = sa.doc_id
    JOIN sizes sb ON bench_id = sb.doc_id
    WHERE c / (sa.n + sb.n - c) >= 0.5
    """,
    "pipeline", "dedup", "decontamination",
)
def dedup_decontaminate(spark, sf_dir):
    """Train/eval decontamination — the cross-corpus overlap check every
    LLM data pipeline runs before training: train documents sharing
    n-gram Jaccard ≥ 0.5 with any benchmark document are contamination.
    The corpus splits deterministically by md5(doc_id) (~1/8 'benchmark',
    the op_hash_sample idiom, oracle-exact); pairs come from
    dedup.cross_corpus_overlap — shingle-collision join across the two
    sides, no all-pairs. At 100 TB the bench side (eval suites) is tiny:
    its shingles broadcast and the check is one map-side pass over
    train."""
    d = tables(spark, sf_dir)["documents"]
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    is_bench = digit.isin("0", "1")
    return dedup.cross_corpus_overlap(
        d.filter(~is_bench), d.filter(is_bench), threshold=0.5
    )


@register(
    "text_repetition",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS g
                 FROM documents),
    tc AS (SELECT doc_id, g, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    tstats AS (SELECT doc_id,
                      CAST(SUM(c) AS BIGINT) AS n_tokens,
                      CAST(COUNT(*) AS BIGINT) AS n_distinct,
                      CAST(MAX(c) AS BIGINT) AS top_c
               FROM tc GROUP BY doc_id),
    big AS (SELECT doc_id,
                   unnest([array_to_string(t[i:i+1], ' ')
                           for i in range(1, len(t))]) AS g
            FROM (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents)),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM big GROUP BY 1, 2),
    bstats AS (SELECT doc_id,
                      CAST(SUM(c) AS BIGINT) AS n_bigrams,
                      CAST(MAX(c) AS BIGINT) AS top_bc
               FROM bc GROUP BY doc_id)
    SELECT t.doc_id AS doc_id, n_tokens, n_distinct,
           1.0 - n_distinct / n_tokens AS dup_token_ratio,
           top_c / n_tokens AS top_token_ratio,
           top_bc / n_bigrams AS top_bigram_ratio
    FROM tstats t LEFT JOIN bstats b ON t.doc_id = b.doc_id
    """,
    "pipeline", "text", "quality", "repetition",
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals per document (duplicate-
    token fraction, dominant token/bigram fractions — Rae et al. 2021
    §A1.1 adapted token-wise; this corpus has no line structure). Two
    partial-aggregated shuffles keyed by (doc, gram); ratios are
    BIGINT/BIGINT double divisions, oracle-exact."""
    return text.repetition_metrics(tables(spark, sf_dir)["documents"])


@register(
    "dedup_cluster",
    f"""
    WITH RECURSIVE pairs AS ({_DUCK_JACCARD.format(t=0.5)}),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
    walk(u, w) AS (SELECT u, v FROM edges
                   UNION
                   SELECT walk.u, e.v FROM walk JOIN edges e ON walk.w = e.u)
    SELECT u AS did, CAST(LEAST(u, MIN(w)) AS BIGINT) AS cluster_id
    FROM walk GROUP BY u
    """,
    "pipeline", "dedup", "clustering",
)
def dedup_cluster(spark, sf_dir):
    """Duplicate clustering: connected components over the exact n-gram
    Jaccard pair graph (t=0.5) — the step that turns pairwise near-dup
    output into per-document keep/drop decisions (cluster_id = smallest
    doc id in the component; the survivor is the doc whose id equals its
    cluster_id).

    Spark side is the alternating large-star/small-star MapReduce
    algorithm (pysparkdb/pipeline/cluster.py — Kiveris et al. SoCC 2014):
    O(log^2 n) rounds of two edge-frame shuffles, no collect beyond a
    one-row convergence checksum per round, so the pair graph never has
    to fit anywhere central — the 100 TB shape. The DuckDB oracle walks
    the same edge set with a recursive transitive-closure CTE (fine at
    test scale, where components are tiny) and labels each node with the
    minimum reachable id — the same fixpoint the star algorithm
    contracts to."""
    d = tables(spark, sf_dir)["documents"]
    pairs = dedup.ngram_jaccard_pairs(d, threshold=0.5)
    return cluster.connected_components(pairs)


@register(
    "text_inverted_index",
    """
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    GROUP BY tok HAVING COUNT(*) >= 4
    """,
    "pipeline", "text", "index",
)
def text_inverted_index(spark, sf_dir):
    """Inverted index over whitespace tokens: token -> document frequency
    + sorted posting list (df >= 4 cut drops the hapax tail, the standard
    index-size control). Postings serialize as a sorted comma-joined
    string so the driver's value-hash is order-deterministic on both
    engines.

    Shape: ONE shuffle — explode, then groupBy tok with collect_set
    (set semantics dedup intra-doc repeats; partial aggregation dedups
    map-side, where each doc's tokens sit in one partition, so shuffle
    volume equals the deduped postings). An explode → distinct →
    groupBy formulation pays a second exchange for the same result
    (plan-asserted). The token key is Zipf-skewed — the stopword rows
    are the heavy hitters — but each posting list is bounded by corpus
    doc count and AQE splits skewed reducers; a production index would
    cap or tier the hottest terms (the stop-shingle idiom in
    dedup.ngram_jaccard_pairs)."""
    d = tables(spark, sf_dir)["documents"]
    dt = d.select(F.col("doc_id"), F.explode(text.tokens("text")).alias("tok"))
    return (
        dt.groupBy("tok")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("_p"))
        .select(
            "tok",
            bigint(F.size("_p")).alias("df"),
            F.concat_ws(
                ",", F.transform(F.col("_p"), lambda x: x.cast("string"))
            ).alias("postings"),
        )
        .filter(F.col("df") >= 4)
    )


@register(
    "text_tfidf",
    """
    WITH tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (SELECT doc_id, tok, tf, df,
                      tf * ln((1.0 + n_docs) / (1.0 + df)) AS tfidf
               FROM tf JOIN df USING (tok) CROSS JOIN n)
    SELECT doc_id, tok, tf, df, ROUND(tfidf, 6) AS tfidf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, tok) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
    "pipeline", "text", "tfidf",
)
def text_tfidf(spark, sf_dir):
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (idf = ln((1+N)/(1+df))) — the classic document-keyword signal a
    data pipeline uses for topic tagging and quality slicing.

    Shape: explode -> (doc, tok) count [one shuffle] -> df from the tf
    frame's tok key [second shuffle, partial-aggregated] -> join tf x df
    on tok (tok-keyed shuffle; Zipf skew handled by AQE skew-join) x a
    one-row N aggregate (auto-broadcast) -> per-doc row_number top-3.
    Ordering (tfidf DESC, tok ASC) is total, so ranks are deterministic
    within each engine, and rank flips across engines would need two
    DISTINCT (tf, df) combinations within ~1 ulp of each other —
    mathematically-equal scores are bit-equal per engine and tie-break on
    tok. The emitted tfidf rounds to 6dp on both sides because JVM
    Math.log and DuckDB's libm ln DO differ in the last ulp for some
    arguments (measured: df=387 at sf0.01); the rounding absorbs it
    (agreement at 6dp asserted over every df value in
    tests/test_pipeline.py)."""
    from pysparkdb.pins import pin

    d = tables(spark, sf_dir)["documents"]
    # tf feeds BOTH the df derivation and the scoring join; AQE's staged
    # execution plans them as separate subtrees (no ReusedExchange), so
    # left lazy the tokenize+count pipeline runs twice — pin the compact
    # (doc, tok, tf) frame (distinct tokens per doc, far smaller than the
    # token stream).
    tf = pin(
        d.select(F.col("doc_id"), F.explode(text.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(bigint(F.count(F.lit(1))).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(bigint(F.count(F.lit(1))).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "df", F.round("tfidf", 6).alias("tfidf"))
    )


@register(
    "text_domain_mix",
    """
    WITH d AS (SELECT doc_id, source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
               FROM documents),
    stats AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS domain_tokens,
                     CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM d GROUP BY source),
    m AS (SELECT MIN(domain_tokens) AS min_tokens FROM stats),
    thr AS (SELECT source,
                   GREATEST(CAST(FLOOR(min_tokens / domain_tokens * 4294967296)
                                 AS BIGINT), 1) AS thr
            FROM stats CROSS JOIN m),
    kept AS (SELECT d.source, d.nt
             FROM d JOIN thr ON d.source IS NOT DISTINCT FROM thr.source
             WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) < thr)
    SELECT s.source AS source,
           s.n_docs AS n_docs_orig,
           s.domain_tokens AS n_tokens_orig,
           CAST(COUNT(k.nt) AS BIGINT) AS n_docs_kept,
           CAST(COALESCE(SUM(k.nt), 0) AS BIGINT) AS n_tokens_kept
    FROM stats s LEFT JOIN kept k ON s.source IS NOT DISTINCT FROM k.source
    GROUP BY 1, 2, 3
    """,
    "pipeline", "text", "mixing",
)
def text_domain_mix(spark, sf_dir):
    """Domain-mixture rebalancing summary: every source deterministically
    downsampled to the token budget of the smallest source (uniform
    target mix), reported as per-source before/after doc+token counts.
    Membership is a pure function of md5(doc_id) vs a per-source
    threshold (pipeline/text.py:domain_mix) — reproducible across
    engines/runs/partitionings, so the oracle matches exactly (all-BIGINT
    output). One small groupBy on source (domain cardinality is tiny, the
    stats broadcast), then a map-side filter — scan-speed at corpus
    scale."""
    d = tables(spark, sf_dir)["documents"]
    nt = text.token_count("text")
    stats = (
        d.select("source", nt.alias("nt"))
        .groupBy("source")
        .agg(
            bigint(F.sum("nt")).alias("n_tokens_orig"),
            bigint(F.count(F.lit(1))).alias("n_docs_orig"),
        )
    )
    kept = (
        text.domain_mix(d)
        .select("source", nt.alias("nt"))
        .groupBy("source")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_docs_kept"),
            bigint(F.sum("nt")).alias("n_tokens_kept"),
        )
    )
    return (
        stats.join(
            kept.withColumnRenamed("source", "_k_source"),
            F.col("source").eqNullSafe(F.col("_k_source")),
            "left",
        )
        .drop("_k_source")
        .select(
            "source", "n_docs_orig", "n_tokens_orig",
            F.coalesce("n_docs_kept", F.lit(0)).cast("long").alias("n_docs_kept"),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
        )
    )


@register(
    "text_pack",
    """
    WITH d AS (SELECT source, doc_id, doc_id % 8 AS bucket,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
               FROM documents),
    placed AS (SELECT source, bucket, doc_id, nt,
                      CAST(FLOOR(COALESCE(SUM(nt) OVER (
                          PARTITION BY source, bucket ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) / 256) AS BIGINT) AS bin
               FROM d)
    SELECT source, bucket, bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM placed GROUP BY 1, 2, 3
    """,
    "pipeline", "text", "packing",
)
def text_pack(spark, sf_dir):
    """Sequence-packing manifest: documents concatenated in deterministic
    (source, bucket, doc_id) order and chunked into 2048-token training
    windows; one row per (source, bucket, bin) with doc/token counts and
    the id span (pipeline/text.py:pack_sequences). The bucket sub-shard
    (doc_id % 8) caps every window sort at domain/8 — the knob that keeps
    the cumulative sum parallel when one domain is 10 TB (production:
    thousands of buckets). All-BIGINT output, oracle-exact; the per-bin
    rollup's keys extend the window's partition keys, so Catalyst plans
    it without a second exchange. The registered query packs into
    256-token windows, NOT the library's 2048 default: at the driver's
    correctness SF the largest (source, bucket) group holds ~870 tokens,
    so a 2048 window never advances past bin 0 and the cutover arithmetic
    — the whole point of packing — would go unexercised (every group at
    sf0.01 fits bin 0, the vacuity class the round-8 de-vacuifications
    target); at 256 the groups span bins 0-3 at sf0.01 and more at
    sf0.1."""
    return text.pack_sequences(tables(spark, sf_dir)["documents"], seq_len=256)


@register(
    "emb_quantize",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v, list_max([abs(x) for x in v]) AS amax FROM e),
    sc AS (SELECT vec_id, v,
                  CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS scale
           FROM s)
    SELECT vec_id, ROUND(scale, 6) AS scale,
           array_to_string(
             [CAST(GREATEST(-127, LEAST(127, FLOOR(x / scale + 0.5))) AS BIGINT)
              for x in v], ',') AS q
    FROM sc
    """,
    "pipeline", "similarity", "quantization",
)
def emb_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization (scale = max|v|/127,
    half-up rounding, clamped) — the float32→int8 storage-reduction pass
    of a vector corpus (pipeline/similarity.py:quantize_embeddings). The
    quantized codes serialize as comma-joined ints, so the driver hash is
    exact: every arithmetic step (abs-max, divide, floor(x+0.5)) is an
    elementwise float64 op both engines execute identically — round()
    itself is avoided inside the codes because its half-even/half-up mode
    differs across engines; it only formats the emitted scale (6dp)."""
    from pysparkdb.pipeline.similarity import quantize_embeddings

    return quantize_embeddings(tables(spark, sf_dir)["embeddings"])


@register(
    "ann_quantized",
    # Self-certifying (the ann_lsh convention): the int8 metric is an
    # engine-side approximation DuckDB has no reason to reproduce, so the
    # Spark side emits the checked quality invariant — quantized top-1
    # matches exact top-1 ≥ 90% of the time over queries whose true
    # nearest neighbor is genuinely near (cosine ≥ 0.8; int8 direction
    # error is ~1/127 per component, far inside that regime's margins).
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, TRUE AS quant_recall_ok
    FROM embeddings WHERE vec_id < 50
    """,
    "pipeline", "similarity", "quantization",
)
def ann_quantized(spark, sf_dir):
    """Approximate top-1 neighbor over int8-quantized codes
    (similarity.quantized_topk_neighbors) — the memory-bandwidth tier of
    a 100 TB vector-serving stack: scan int8 (4× smaller), scales cancel
    in cosine, integer dots are exact long sums; exact float rerank
    (topk_neighbors) remains the verification tier. The registered form
    is the recall certificate of quantized-vs-exact top-1, both
    distributed, joined on query id — no collect."""
    e = tables(spark, sf_dir)["embeddings"]
    qf = F.col("vec_id") < 50
    approx = similarity.quantized_topk_neighbors(e, k=1, query_filter=qf)
    exact = similarity.topk_neighbors(e, k=1, query_filter=qf)
    return _ann_recall_certificate(e, approx, exact, near_cos=0.8, floor=0.9,
                                   ok_col="quant_recall_ok", query_filter=qf)


@register(
    "pipeline_clean_near",
    f"""
    WITH RECURSIVE quality AS (
      SELECT doc_id, lang, text FROM documents
      WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
    ),
    fps AS (SELECT doc_id, lang, text,
                   md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
            FROM quality),
    keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
    surv AS (SELECT f.doc_id, f.lang, f.text
             FROM fps f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id),
    sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM surv)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM common
              JOIN sizes sa ON doc_a = sa.doc_id
              JOIN sizes sb ON doc_b = sb.doc_id
              WHERE c / (sa.n + sb.n - c) >= 0.5),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
    walk(u, w) AS (SELECT u, v FROM edges
                   UNION
                   SELECT walk.u, e.v FROM walk JOIN edges e ON walk.w = e.u),
    labels AS (SELECT u AS doc_id, LEAST(u, MIN(w)) AS cluster_id
               FROM walk GROUP BY u)
    SELECT s.lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM surv s LEFT JOIN labels l ON s.doc_id = l.doc_id
    WHERE l.cluster_id IS NULL OR l.cluster_id = s.doc_id
    GROUP BY s.lang
    """,
    "pipeline", "dedup", "text", "composite", "clustering",
)
def pipeline_clean_near(spark, sf_dir):
    """The full cleaning pipeline, one query: quality gate (token band) →
    exact dedup (survivor = min doc_id per normalized digest) → NEAR-dup
    clustering over the exact survivors (word-3-gram Jaccard ≥ 0.5 →
    connected components) → keep one document per near-dup cluster →
    per-language counts. This is the composition a production corpus run
    executes end-to-end; every stage is the already-oracle-checked
    operator (pipeline_clean, dedup_ngram_jaccard, dedup_cluster) fused
    here to prove they compose.

    Scale shape: the expensive stage is the shingle-collision join, which
    runs over the exact-deduped survivor set (smaller than the corpus);
    clustering adds O(log² n) cheap edge-frame rounds; the final drop is
    one broadcast-sized left join of labels (|labels| = docs appearing in
    any near-dup pair) against the survivor frame."""
    from pysparkdb.pins import pin

    d = tables(spark, sf_dir)["documents"]
    quality = d.filter(text.token_count("text").between(20, 1000))
    fp = text.normalized_fingerprint("text")
    fps = quality.select("doc_id", "lang", "text", fp.alias("fp"))
    keep = fps.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    # The survivor frame feeds the shingle self-join (both sides + the
    # stop-shingle and size counts) AND the final keep-filter join — five
    # consumers of the same quality+exact-dedup subtree. Persist it once
    # (MEMORY_AND_DISK: spills, never OOMs) exactly as q21 pins `late`; at
    # real corpus scale this materialization point is where a production
    # run would checkpoint survivors to parquet between stages.
    surv = pin(fps.join(keep, ["fp", "doc_id"], "left_semi"))
    pairs = dedup.ngram_jaccard_pairs(surv, threshold=0.5)
    labels = cluster.connected_components(pairs).withColumnRenamed("did", "doc_id")
    return (
        surv.join(labels, "doc_id", "left")
        .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
        .groupBy("lang")
        .agg(bigint(F.count(F.lit(1))).alias("n_docs"))
    )


@register(
    "text_unigram_logprob",
    """
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    vocab AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY tok),
    total AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM vocab),
    scored AS (SELECT t.doc_id, ln(v.c / total.n) AS lp
               FROM tok t JOIN vocab v USING (tok) CROSS JOIN total)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(ROUND(SUM(CAST(ROUND(lp, 6) AS DECIMAL(25,6))) / COUNT(*), 4)
                AS DOUBLE) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    "pipeline", "text", "quality", "lm",
)
def text_unigram_logprob(spark, sf_dir):
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the CCNet-style language-model quality filter
    at its simplest: documents full of rare tokens score low (gibberish,
    boilerplate codes), documents of common words score high. At 100 TB
    the vocab is built once (one token-keyed shuffle, Zipf skew handled
    by AQE), broadcast if it fits or joined otherwise, then scoring is a
    second pass over the token stream.

    Determinism: each token's ln(c/N) is one libm call whose double
    result agrees with DuckDB at 6dp on every corpus frequency (the
    text_tfidf argument); the per-doc SUM runs over DECIMAL(25,6)-rounded
    addends so the summation ORDER cannot flip the hash (the dsum idiom),
    and the mean rounds to 4dp."""
    d = tables(spark, sf_dir)["documents"]
    # (measured: pinning the token stream here is flat — the vocab
    # aggregation dominates both consumers — so unlike text_tfidf the
    # frame stays lazy)
    tok = d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    vocab = tok.groupBy("tok").agg(bigint(F.count(F.lit(1))).alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        tok.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("c") / F.col("n")).alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        bigint(F.count(F.lit(1))).alias("n_tokens"),
        F.round(
            F.sum(F.round(F.col("lp"), 6).cast("decimal(25,6)"))
            / F.count(F.lit(1)),
            4,
        ).cast("double").alias("avg_logprob"),
    )


# Fixed retrieval query for text_bm25: one rare term ('dup', df≈25) and two
# common ones — the mix that makes idf weighting visible in the ranking.
_BM25_TERMS = ("dup", "spark", "data")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "text_bm25",
    f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nd FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                     CAST(SUM(nd) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
           WHERE tok IN {_BM25_TERMS} GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             SUM(CAST(ROUND(
               ln((n - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * ({_BM25_K1} + 1.0))
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * nd / avgdl)),
             6) AS DECIMAL(25,6))) AS score
      FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY tf.doc_id)
    SELECT doc_id, CAST(score AS DOUBLE) AS score
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT 10
    """,
    "pipeline", "text", "retrieval", "bm25",
)
def text_bm25(spark, sf_dir):
    """BM25 retrieval (k1=1.2, b=0.75) for a fixed 3-term query — the
    classic sparse-retrieval scorer a corpus pipeline uses for search and
    hard-negative mining. idf = ln((N−df+0.5)/(df+0.5)+1) (the
    Robertson–Spärck Jones form, always positive).

    Scale shape: doc lengths and corpus stats are one aggregation pass;
    tf touches only documents containing a query term (the WHERE pushes
    to the scan), so scoring work is O(postings of the query terms), not
    O(corpus) — with a prebuilt text_inverted_index the tf frame IS the
    relevant posting lists. The final global top-10 is
    TakeOrderedAndProject, never a full sort.

    Determinism: per-(doc,term) scores round to 6dp (ln agreement — the
    text_tfidf argument), the per-doc SUM runs over DECIMAL(25,6) addends
    so summation order cannot flip the hash, and the rank ordering uses
    the exact decimal sum with doc_id tiebreak."""
    d = tables(spark, sf_dir)["documents"]
    tok = d.select("doc_id", F.explode(text.tokens("text")).alias("tok"))
    dl = tok.groupBy("doc_id").agg(bigint(F.count(F.lit(1))).alias("nd"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("nd").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(bigint(F.count(F.lit(1))).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(bigint(F.count(F.lit(1))).alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term = (
        idf
        * (F.col("tf") * (k1 + 1.0))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("nd") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(term, 6).cast("decimal(25,6)").alias("term"))
        .groupBy("doc_id")
        .agg(F.sum("term").alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(10)
        .select("doc_id", F.col("score").cast("double").alias("score"))
    )


@register(
    "text_pii_scrub",
    r"""
    WITH notes AS (
      SELECT c_custkey AS id,
             'reach ' || c_name || ' at '
               || CAST(c_custkey % 90 + 10 AS VARCHAR) || '-'
               || CAST((c_custkey * 7) % 900 + 100 AS VARCHAR) || '-'
               || CAST((c_custkey * 13) % 900 + 100 AS VARCHAR) || '-'
               || CAST((c_custkey * 31) % 9000 + 1000 AS VARCHAR)
               || ' or user' || CAST(c_custkey AS VARCHAR) || '@example.com' AS text
      FROM customer),
    e AS (
      SELECT id,
             CAST(len(regexp_extract_all(
               text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_email,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '[EMAIL]', 'g') AS t1
      FROM notes)
    SELECT id,
           regexp_replace(t1, '\d{2}-\d{3}-\d{3}-\d{4}', '[PHONE]', 'g') AS scrubbed,
           n_email,
           CAST(len(regexp_extract_all(t1, '\d{2}-\d{3}-\d{3}-\d{4}')) AS BIGINT)
             AS n_phone
    FROM e
    """,
    "pipeline", "text", "pii",
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction over synthesized contact notes — the compliance scrub
    every training corpus runs before tokenization. The documents corpus is
    synthetic word soup with no organic PII (and this testdata's customer
    has no c_phone column), so the query derives a deterministic
    NN-NNN-NNN-NNNN phone and a key-based email from c_custkey arithmetic
    — byte-identical in both engines — then scrubs with the engine
    operator: email pattern counted+replaced first, phone counted on the
    already-email-scrubbed text — order-chained so patterns never
    double-count (pysparkdb.pipeline.text.pii_scrub).

    Scale shape: pure column expressions (regexp count + replace per
    pattern) in ONE codegen stage, no shuffle, no UDF — scan speed over
    100 TB. Full row-level output (id, scrubbed, n_email, n_phone) so the
    oracle hash checks every redacted byte, not just totals."""
    c = tables(spark, sf_dir)["customer"]
    k = F.col("c_custkey")
    seg = lambda mul, mod, lo: ((k * mul) % mod + lo).cast("string")  # noqa: E731
    phone = F.concat_ws(
        "-", seg(1, 90, 10), seg(7, 900, 100), seg(13, 900, 100), seg(31, 9000, 1000)
    )
    notes = c.select(
        k.alias("id"),
        F.concat(
            F.lit("reach "), F.col("c_name"), F.lit(" at "), phone,
            F.lit(" or user"), k.cast("string"), F.lit("@example.com"),
        ).alias("text"),
    )
    return text.pii_scrub(notes, id_col="id", text_col="text")


@register(
    "text_dup_chunks",
    """
    WITH idx AS (
      SELECT doc_id, text,
             unnest(range(0, CAST(ceil(greatest(length(text) - 100, 0) / 100.0)
                             AS BIGINT) + 1)) AS i
      FROM documents WHERE length(text) > 0),
    ch AS (SELECT doc_id,
                  md5(substr(text, CAST(i * 100 + 1 AS INTEGER), 100)) AS h
           FROM idx),
    freq AS (SELECT h, MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM ch GROUP BY h)
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN f.mn <> f.mx THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           ROUND(SUM(CASE WHEN f.mn <> f.mx THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS dup_frac
    FROM ch c JOIN freq f USING (h)
    GROUP BY c.doc_id
    """,
    "pipeline", "text", "dedup", "quality",
)
def text_dup_chunks(spark, sf_dir):
    """Cross-document duplicate-chunk fraction (Gopher-style corpus
    quality signal): non-overlapping 100-char chunks, md5 each, report per
    document what fraction of its chunks also occur in at least one OTHER
    document (min(doc) != max(doc) over the digest — intra-document
    repeats are text_repetition's signal, not this one's) — the
    boilerplate/mirror detector that complements intra-document
    text_repetition and whole-document dedup_exact.

    Scale shape (pysparkdb.pipeline.text.dup_chunk_stats): map-side chunk
    explode, global chunk frequency as a COUNT() window over the digest —
    ONE shuffle on the hash, chunk subtree computed once (the oracle's
    self-join formulation would scan it twice) — then a per-doc rollup on
    doc_id. Only 16-byte digests shuffle, never chunk text."""
    return text.dup_chunk_stats(tables(spark, sf_dir)["documents"])


@register(
    "dedup_incremental",
    r"""
    WITH hist AS (
      SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      FROM documents WHERE doc_id % 10 < 8),
    batch AS (
      SELECT doc_id, lang,
             md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
      FROM documents WHERE doc_id % 10 >= 8)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_new
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
    GROUP BY lang
    """,
    "pipeline", "dedup", "incremental", "bloom",
)
def dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup: docs with doc_id % 10 < 8 play the
    already-ingested history, the rest the nightly batch; count per
    language the batch docs whose normalized text never appeared in
    history. Runs through the relational Bloom filter
    (pysparkdb.pipeline.dedup.incremental_new_documents): history
    collapses to ≤2^20 distinct set-bit rows (broadcast), the batch
    probes map-side, and only might-contain candidates pay the exact
    fingerprint semi-join — history is never shuffled whole. Bloom
    filters have no false negatives and candidates are verify-joined, so
    the result is exact — hence the full value oracle (DuckDB NOT
    EXISTS, not NOT IN: a NULL-text row fingerprints to NULL, survives
    the engine's null-unsafe verify join as "new", and NOT EXISTS
    matches that semantics where NOT IN would silently drop the row)."""
    d = tables(spark, sf_dir)["documents"]
    history = d.filter(F.col("doc_id") % 10 < 8)
    batch = d.filter(F.col("doc_id") % 10 >= 8)
    new = dedup.incremental_new_documents(history, batch)
    return new.groupBy("lang").agg(bigint(F.count(F.lit(1))).alias("n_new"))


@register(
    "mm_image_dedup",
    # Full value oracle, the mm_resize ASCII-bytes argument: on this
    # pure-ASCII corpus payload bytes ARE ascii() codes, so DuckDB replays
    # the byte sampling and the exact-mean threshold (integer sums in
    # float64; sum/64 is exact) bit for bit.
    """
    WITH s AS (
      SELECT doc_id,
             [ascii(substr(text,
                           least(i * greatest(length(text) // 64, 1),
                                 length(text) - 1) + 1, 1))
              for i in range(0, 64)] AS b
      FROM documents),
    h AS (
      SELECT doc_id,
             array_to_string(
               [CASE WHEN x > list_sum(b) / 64.0 THEN '1' ELSE '0' END
                for x in b], '') AS ahash
      FROM s)
    SELECT ahash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id
    FROM h GROUP BY ahash HAVING COUNT(*) > 1
    """,
    "pipeline", "multimodal", "dedup",
)
def mm_image_dedup(spark, sf_dir):
    """Perceptual image dedup (STUBBED codec): average-hash every payload
    (multimodal.image_ahash — one Arrow-batched pass, 64-bit threshold
    signature), group on the hash, emit the duplicate groups with their
    survivor (min doc_id). The image twin of dedup_exact: near-identical
    images collide on the hash, so dedup is a group-by on a 64-char key —
    never a pairwise image comparison — and the survivor set is one
    hash-shuffle away at any corpus size."""
    d = tables(spark, sf_dir)["documents"]
    hashes = multimodal.image_ahash(multimodal.to_binary_column(d), fake=True)
    return (
        hashes.groupBy("ahash")
        .agg(
            bigint(F.count(F.lit(1))).alias("n_docs"),
            bigint(F.min("doc_id")).alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "text_fuzzy_join",
    """
    WITH s AS (
      SELECT doc_id, lang,
             substr(text, 1, 8 + MOD(doc_id, 40)) AS s
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
    FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE ABS(length(a.s) - length(b.s)) <= 4
      AND levenshtein(a.s, b.s) <= 4
    """,
    "pipeline", "dedup", "fuzzy",
)
def text_fuzzy_join(spark, sf_dir):
    """Fuzzy string self-join: document pairs whose key strings are within
    4 Levenshtein edits, through dedup.edit_distance_pairs — lossless
    (lang, length-band) blocking into a hash join, then banded-DP verify
    (the threshold arg caps each comparison at O(L·t) and the -1 early
    exit skips non-matches). The matcher for near-identical titles/URLs
    that token-set and signature dedup both miss. The key string varies
    in length with the doc (prefix of 8 + doc_id mod 40 chars) so the
    length banding genuinely prunes, as it does on real titles. Threshold
    discipline matters doubly at scale: it bounds the per-pair DP band
    AND (via band width t+1) the candidate fan-in — a threshold-10 run
    over the same corpus costs ~10x this plan. Oracle replays the
    brute-force within-language form — identical unit-cost edit-distance
    semantics in both engines."""
    d = tables(spark, sf_dir)["documents"]
    field = F.expr("substr(text, 1, 8 + doc_id % 40)")
    return dedup.edit_distance_pairs(d, field, threshold=4, band_width=5)


@register(
    "graph_pagerank",
    graph.pagerank_oracle_sql(iterations=10, out_degree=3),  # unrolled-CTE SQL
    "pipeline", "graph", "iterative",
)
def graph_pagerank(spark, sf_dir):
    """Fixed-point PageRank (10 iterations, damping 0.85, out-degree-3
    deterministic link graph) via pysparkdb.pipeline.graph — the
    iterative-algorithm class the strictly-one-shot reference lacks
    (SURVEY §2.10) and crawl-curation pipelines need. Each iteration is
    one hash join (edges ⋈ ranks on src) + one aggregation (inflow by
    dst) with per-iteration persist to keep the plan O(1); ranks are
    BIGINT fixed-point units, so every arithmetic step is exact and the
    unrolled-CTE DuckDB oracle matches bit for bit — no float-sum-order
    tolerance anywhere."""
    d = tables(spark, sf_dir)["documents"]
    nodes = d.select("doc_id")
    n = nodes.count()  # the one driver-side scalar: |V|, a metastore stat at scale
    edges = graph.synthetic_link_graph(nodes, n, out_degree=3)
    return graph.pagerank(nodes, edges, n, out_degree=3, iterations=10)


@register(
    "graph_bfs",
    graph.bfs_oracle_sql(max_depth=6, out_degree=3),
    "pipeline", "graph", "iterative", "recursive_cte",
)
def graph_bfs(spark, sf_dir):
    """Multi-source BFS over the synthetic link graph: minimum hops from
    the seed set {doc_id < 3}, depth-capped at 6 — the
    contamination-radius / reachability traversal
    (pysparkdb.pipeline.graph.bfs_hops). Level-synchronous frontier
    expansion, fixed-depth, with a LAZY localCheckpoint per level — the
    frontier is consumed twice per level, so an uncut lineage doubles per
    level and explodes 2^depth; the lazy cut truncates the plan without a
    per-level blocking job. The oracle is a recursive CTE that runs
    VERBATIM in both engines (Spark 4 WITH RECURSIVE) — the registry's
    first recursive-SQL parity query: walk enumeration in the recursive
    member, MIN-collapse outside."""
    d = tables(spark, sf_dir)["documents"]
    nodes = d.select("doc_id")
    n = nodes.count()  # |V|, a metastore stat at scale
    edges = graph.synthetic_link_graph(nodes, n, out_degree=3)
    return graph.bfs_hops(edges, nodes.filter(F.col("doc_id") < 3), max_depth=6)


@register(
    "emb_hard_negatives",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, label, v, sqrt({_duck_dot('v', 'v')}) AS nrm FROM e),
    scored AS (SELECT q.vec_id AS qid, q.label AS qlabel,
                      c.vec_id AS cid, c.label AS clabel,
                      {_duck_dot('q.v', 'c.v')} / (q.nrm * c.nrm) AS cosine
               FROM n q JOIN n c
                 ON q.vec_id <> c.vec_id AND q.label <> c.label
               WHERE q.vec_id < 50)
    SELECT qid, CAST(qlabel AS BIGINT) AS qlabel,
           cid, CAST(clabel AS BIGINT) AS clabel, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY cosine DESC, cid ASC) AS rnk
          FROM scored)
    WHERE rnk <= 1
    """,
    "pipeline", "similarity", "contrastive",
)
def emb_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negatives): per query vector
    (vec_id < 50), the most-similar embedding with a DIFFERENT label —
    the near-but-wrong candidates that carry the gradient in contrastive
    training. Same brute-force-with-window shape as ann_topk with the
    label-mismatch predicate folded into the join (filter before score);
    the LSH/IVF bucketed variants are the scale path when the candidate
    side outgrows brute force."""
    return similarity.hard_negatives(
        tables(spark, sf_dir)["embeddings"], query_filter=F.col("vec_id") < 50
    )


@register(
    "graph_lpa",
    graph.lpa_oracle_sql(iterations=4, out_degree=3),
    "pipeline", "graph", "iterative", "community",
)
def graph_lpa(spark, sf_dir):
    """Label-propagation communities over the synthetic link graph
    (pipeline.graph.label_propagation, 4 deterministic rounds): each node
    adopts its in-neighbors' most frequent label, ties to the smallest —
    the density-respecting grouping that connected components' min-flood
    ignores, used for near-dup site clusters and topic hubs. Exact
    unrolled-CTE oracle (integer votes, total-order tie-break, fixed
    rounds); per-round lazy localCheckpoint keeps the plan linear."""
    d = tables(spark, sf_dir)["documents"]
    nodes = d.select("doc_id")
    n = nodes.count()  # |V|, a metastore stat at scale
    edges = graph.synthetic_link_graph(nodes, n, out_degree=3)
    return graph.label_propagation(nodes, edges, iterations=4).select(
        "doc_id", F.col("community").cast("long").alias("community")
    )


@register(
    "graph_triangles",
    graph.triangles_oracle_sql(out_degree=3),
    "pipeline", "graph", "motif",
)
def graph_triangles(spark, sf_dir):
    """Triangle enumeration over the synthetic link graph
    (pipeline.graph.triangles): canonical a<b<c ordered two-hop join, so
    each triangle appears exactly once — the motif count behind
    template-farm detection (near-dup link farms are triangle-dense).
    Fully portable SQL oracle: the same symmetrize → canonicalize →
    ordered self-join pipeline in both engines."""
    d = tables(spark, sf_dir)["documents"]
    nodes = d.select("doc_id")
    n = nodes.count()  # |V|, a metastore stat at scale
    edges = graph.synthetic_link_graph(nodes, n, out_degree=3)
    return graph.triangles(edges)


@register(
    "pipeline_snapshot_curation",
    f"""
    WITH RECURSIVE quality AS (
      SELECT doc_id, lang, text FROM documents
      WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000
    ),
    fps AS (SELECT doc_id, lang, text,
                   md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
            FROM quality),
    keep AS (SELECT fp, MIN(doc_id) AS doc_id FROM fps GROUP BY fp),
    surv AS (SELECT f.doc_id, f.text
             FROM fps f JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id),
    sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS s
           FROM (SELECT doc_id, string_split(text, ' ') AS t FROM surv)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
    pairs AS (SELECT doc_a, doc_b FROM common
              JOIN sizes sa ON doc_a = sa.doc_id
              JOIN sizes sb ON doc_b = sb.doc_id
              WHERE c / (sa.n + sb.n - c) >= 0.5),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
    walk(u, w) AS (SELECT u, v FROM edges
                   UNION
                   SELECT walk.u, e.v FROM walk JOIN edges e ON walk.w = e.u),
    labels AS (SELECT u AS doc_id, LEAST(u, MIN(w)) AS cluster_id
               FROM walk GROUP BY u),
    curated AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
                FROM surv s LEFT JOIN labels l ON s.doc_id = l.doc_id
                WHERE l.cluster_id IS NULL OR l.cluster_id = s.doc_id)
    SELECT 'landed' AS stage, (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n
    UNION ALL
    SELECT 'ingested', (SELECT CAST(COUNT(*) AS BIGINT) FROM keep)
    UNION ALL
    SELECT 'versions', CAST(3 AS BIGINT)
    UNION ALL
    SELECT 'compacted_rows', (SELECT CAST(COUNT(*) AS BIGINT) FROM keep)
    UNION ALL
    SELECT 'curated', (SELECT n FROM curated)
    """,
    "pipeline", "streaming", "versioned", "composite",
)
def pipeline_snapshot_curation(spark, sf_dir):
    """The composed training-corpus build (scripts/train_pipeline_demo.py),
    registered so the whole composition carries a driver CORRECTNESS row,
    not just pytest invariants. Runs the REAL machinery end-to-end in a
    scratch dir: two micro-batch arrivals (doc_id parity split) through
    Structured Streaming cleaning (quality gate -> cross-batch exact dedup,
    streaming/windows.py:stream_clean_documents) into the exactly-once
    versioned snapshot sink (sources/versioned.py:snapshot_stream_sink),
    then Z-order compaction as a new version, then near-dup curation
    (word-3-gram Jaccard >= 0.5 -> connected components -> one survivor
    per cluster) from the PINNED pre-compaction version. Emits one
    (stage, n) row per stage boundary; the oracle derives every count
    purely relationally from `documents`, so the compare certifies:
    exactly-once ingest across micro-batches (no dup/dropped rows),
    dedup-state carry-over between drains, compaction's row preservation,
    version-count bookkeeping, and the curation survivor count. Counts are
    survivor-choice-invariant (identical fingerprints imply identical
    texts), so streaming arrival order cannot flake the compare.

    Scale shape: each stage is the already-certified operator; the scratch
    write is two snapshot commits + one compaction of the sf subset, and
    the expensive curation join runs over exact-dedup survivors exactly as
    pipeline_clean_near documents."""
    import os
    import shutil
    import tempfile

    from pysparkdb.sources.versioned import (
        snapshot_compact,
        snapshot_read,
        snapshot_stream_sink,
        snapshot_versions,
    )
    from pysparkdb.streaming.windows import stream_clean_documents

    from pysparkdb.scratch import workdir_root

    docs = tables(spark, sf_dir)["documents"]
    n_landed = docs.count()
    # whole workdir (landing + snapshot root + stream checkpoints) is
    # ephemeral — rmtree'd in the finally — but corpus-sized, so it goes
    # on workdir_root() (the platform tempdir unless PYSPARKDB_SCRATCH is
    # set), never a RAM-backed tmpfs
    workdir = tempfile.mkdtemp(prefix="snapcur-", dir=workdir_root())
    try:
        landing = os.path.join(workdir, "landing")
        root = os.path.join(workdir, "corpus")
        ckpt = os.path.join(workdir, "ckpt")
        os.makedirs(landing, exist_ok=True)

        def land(name, df):
            # one parquet FILE per arrival (file-stream sources do not
            # recurse into df.write's directories): a DISTRIBUTED
            # single-task write staged to scratch, then the part file
            # moved to the landing name — this used to be the one
            # df.toPandas() in the repo whose size scaled with the
            # corpus; now no row touches the driver (and no pandas hop
            # rewrites nullable int64 as float64)
            scratch = os.path.join(workdir, f"stage-{name}")
            df.coalesce(1).write.mode("overwrite").parquet(scratch)
            part = next(
                p for p in os.listdir(scratch)
                if p.startswith("part-") and p.endswith(".parquet"))
            os.replace(
                os.path.join(scratch, part), os.path.join(landing, name))
            shutil.rmtree(scratch)

        def drain():
            stream = spark.readStream.schema(docs.schema).parquet(landing)
            cleaned = stream_clean_documents(stream)
            q = snapshot_stream_sink(cleaned, root, ckpt).trigger(
                availableNow=True
            ).start()
            # explicit check, not assert: under python -O an assert is
            # stripped (a timed-out drain would fall through to reading a
            # partially-committed corpus), and on timeout the query must
            # be STOPPED before the finally rmtree's its checkpoint dir
            # out from under a still-running stream
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError("ingest drain exceeded 300 s")

        # Size the dedup state store to the STREAM's volume, not the
        # analytic session default: shuffle.partitions dictates the number
        # of per-drain state-store instances (open/snapshot/commit cost is
        # per instance per micro-batch), and an sf-scale document stream
        # needs far fewer than a fact-table join. A real 100 TB ingest
        # sizes this up per deployment — the point is that state-partition
        # count is a per-ingest knob, tuned here exactly as a production
        # stream would, then restored for the analytic stages.
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            land("arrival-1.parquet", docs.filter(F.col("doc_id") % 2 == 0))
            drain()
            land("arrival-2.parquet", docs.filter(F.col("doc_id") % 2 == 1))
            drain()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        # ONE read of the pinned version serves both the ingest count and
        # the curation stage (r15: the second snapshot_read re-resolved
        # the manifest and rebuilt the frame for the same version)
        pinned = snapshot_versions(root)[-1]
        corpus = snapshot_read(spark, root, pinned)
        n_ingested = corpus.count()

        # Compaction (+ its row-count) and near-dup curation are
        # independent by construction: curation reads the PINNED
        # pre-compaction version while compaction only appends a new one.
        # Run the two job chains from a 2-thread pool (guide §2.6
        # "overlap independent jobs"): the curation cc rounds back-fill
        # the cores the single-writer compaction stage leaves idle, and
        # the scheduler interleaves the chains' stages FIFO. Results are
        # the same two scalars the sequential form produced; job
        # descriptions are thread-local so each chain stays labelled.
        # (ADVICE r15: "thread-local" relies on PySpark pinned-thread
        # mode, PYSPARK_PIN_THREAD=true — the default since Spark 3.2.
        # With it disabled the two chains would share JVM local
        # properties: labels could cross, and any future
        # setJobGroup/cancel would hit both chains. Labels are cosmetic
        # here, but keep the pool free of group-cancel calls unless
        # pinned mode is asserted.)
        def _compact_branch():
            spark.sparkContext.setJobDescription(
                "snapshot_curation: compact + count")
            snapshot_compact(spark, root, target_files=2,
                             zorder_cols=["doc_id", "n_chars"])
            vs = snapshot_versions(root)
            return vs, snapshot_read(spark, root, vs[-1]).count()

        def _curate_branch():
            spark.sparkContext.setJobDescription(
                "snapshot_curation: near-dup curation")
            pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.5)
            labels = cluster.connected_components(pairs).withColumnRenamed(
                "did", "doc_id"
            )
            return (
                corpus.join(labels, "doc_id", "left")
                .filter(
                    F.col("cluster_id").isNull()
                    | (F.col("cluster_id") == F.col("doc_id"))
                )
                .count()
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_compact = pool.submit(_compact_branch)
            f_curate = pool.submit(_curate_branch)
            versions, n_compacted = f_compact.result()
            n_curated = f_curate.result()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    # Counts were materialized above (the pipeline ran eagerly); the
    # result frame is a 5-row literal — the sanctioned Collate point,
    # assembled JVM-side (jvm_rows_df) so no Python-worker RDD sits in
    # the plan (VERDICT r14 task #1 / the ev_interval_overlap root cause).
    from pysparkdb.queries.base import jvm_rows_df

    return jvm_rows_df(
        spark,
        [
            ("landed", n_landed),
            ("ingested", n_ingested),
            ("versions", len(versions)),
            ("compacted_rows", n_compacted),
            ("curated", n_curated),
        ],
        "stage string, n long",
    )


@register(
    "pipeline_incremental_refresh",
    """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS incremental_matches
    FROM documents WHERE doc_id % 7 <> 0 GROUP BY lang
    """,
    "pipeline", "versioned", "incremental", "composite",
)
def pipeline_incremental_refresh(spark, sf_dir):
    """Incremental view maintenance over the snapshot log: refresh a
    per-language corpus statistic from VERSION DELTAS instead of
    re-reading the corpus — the nightly-stats pattern that makes 100 TB
    maintenance affordable (a delta is one batch; the corpus is
    everything). Mechanics: three versions exercise BOTH delta signs —
    v1 (initial two-thirds), v2 (append of the remainder: pure inserts;
    snapshot_diff's file-level short-circuit scans ONLY the new batch),
    v3 (snapshot_rewrite dropping every doc_id % 7 == 0: the retention /
    right-to-erasure pass, whose diff is pure deletes). The v1 aggregate
    is chained through both deltas and the result is emitted with an
    `incremental_matches` boolean asserting it equals a full recompute
    over v3. The oracle re-derives the final counts relationally (docs
    with doc_id % 7 <> 0) and asserts TRUE — a hash match certifies the
    statistic AND the algebraic correctness of delta application in both
    directions (counts are fully re-aggregable; the same shape carries
    any commutative-monoid stat: token sums, per-domain quotas,
    quality-score moments).

    Scale shape: aggregate(v1) is the one-time base (itself refreshable);
    each append refresh costs aggregate(one batch) + a |langs|-row merge.
    The post-rewrite diff degrades to a full key compare (the manifests
    share no files — documented in snapshot_diff), which is the honest
    price of a corpus-wide erasure pass; day-to-day appends keep the
    short-circuit."""
    import os
    import shutil
    import tempfile

    from pysparkdb.sources.versioned import (
        snapshot_append,
        snapshot_diff,
        snapshot_read,
        snapshot_rewrite,
    )

    from pysparkdb.scratch import workdir_root

    docs = tables(spark, sf_dir)["documents"]
    # ephemeral scratch corpus (rmtree'd below) → workdir_root(), the
    # snapshot_curation rationale
    workdir = tempfile.mkdtemp(prefix="increfresh-", dir=workdir_root())
    try:
        root = os.path.join(workdir, "corpus")
        snapshot_append(docs.filter(F.col("doc_id") % 3 != 0), root)  # v1
        snapshot_append(docs.filter(F.col("doc_id") % 3 == 0), root)  # v2
        snapshot_rewrite(  # v3: retention pass — deletes doc_id % 7 == 0
            spark, root,
            snapshot_read(spark, root, 2).filter(F.col("doc_id") % 7 != 0),
        )

        def counts(df, alias):
            return df.groupBy("lang").agg(F.count(F.lit(1)).alias(alias))

        def delta(v_from, v_to, alias):
            return (
                snapshot_diff(spark, root, v_from, v_to, ["doc_id"])
                .groupBy("lang")
                .agg(
                    F.sum(
                        F.when(F.col("_change") == "insert", 1).otherwise(-1)
                    ).alias(alias)
                )
            )

        refreshed = (
            counts(snapshot_read(spark, root, 1), "n_base")
            .join(delta(1, 2, "d12"), "lang", "full")
            .join(delta(2, 3, "d23"), "lang", "full")
            .select(
                "lang",
                (
                    F.coalesce(F.col("n_base"), F.lit(0))
                    + F.coalesce(F.col("d12"), F.lit(0))
                    + F.coalesce(F.col("d23"), F.lit(0))
                ).alias("n_refreshed"),
            )
        )
        full = counts(snapshot_read(spark, root, 3), "n_full")
        out = (
            full.join(refreshed, "lang", "full")
            # A lang that lost ALL its docs in the v3 rewrite appears only
            # on the refreshed side (n_full NULL, n_refreshed 0); the
            # oracle groups surviving docs and has no such row. Drop the
            # refreshed-to-zero orphans, but KEEP a nonzero orphan — that
            # is a real incremental/full mismatch the certificate must
            # surface, as coalesce(n_full, 0) != n_refreshed.
            .filter(
                ~(
                    F.col("n_full").isNull()
                    & (F.coalesce(F.col("n_refreshed"), F.lit(0)) == 0)
                )
            )
            .select(
                "lang",
                bigint(F.col("n_full")).alias("n_docs"),
                (
                    F.coalesce(F.col("n_full"), F.lit(0))
                    == F.col("n_refreshed")
                ).alias("incremental_matches"),
            )
            .collect()  # materialize before the scratch root is removed
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    # JVM-side assembly of the bounded per-lang certificate (|langs| rows)
    # — no Python-worker RDD in the plan (VERDICT r14 task #1).
    from pysparkdb.queries.base import jvm_rows_df

    return jvm_rows_df(
        spark, out, "lang string, n_docs long, incremental_matches boolean"
    )


@register(
    "pipeline_schema_evolution",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(CASE WHEN doc_id % 3 = 0 THEN 1 END) AS BIGINT)
             AS n_scored,
           CAST(SUM(CASE WHEN doc_id % 3 = 0
                         THEN CAST(CAST(n_chars AS DOUBLE) * 0.25
                                   AS DECIMAL(25,6)) END) AS DOUBLE)
             AS sum_quality,
           TRUE AS v1_lacked_quality
    FROM documents GROUP BY lang
    """,
    "pipeline", "versioned", "schema_evolution",
)
def pipeline_schema_evolution(spark, sf_dir):
    """Schema evolution on the versioned store, certified end-to-end: v1
    appends documents WITHOUT a quality column, v2 appends the rest WITH
    one (doubles, exact dyadic n_chars*0.25 so sums hash bit-identically),
    and the latest read runs under the manifest-recorded MERGED schema
    (sources/versioned.py:snapshot_append/_merge_schema — the
    Delta/Iceberg log-recorded-schema idea). The certificate is the
    grouped corpus stat over that mixed-schema read: n_docs counts BOTH
    eras (old files must still be readable), n_scored counts non-NULL
    quality (v1 rows MUST surface as NULL — if Spark sampled a v1 footer
    and dropped the column, or backfilled anything non-NULL, the count
    and sum both break), and v1_lacked_quality pins the premise from the
    v1 manifest schema itself so the evolution cannot be faked by two
    same-schema appends. Scale shape: schema merge and read-declaration
    are manifest-only (no data pass); the read is the same
    explicit-file-list scan as every snapshot read."""
    import os
    import shutil
    import tempfile

    from pysparkdb.sources.versioned import (
        snapshot_append,
        snapshot_read,
        snapshot_schema,
    )

    from pysparkdb.scratch import workdir_root

    docs = tables(spark, sf_dir)["documents"].select(
        "doc_id", "lang", "n_chars"
    )
    # ephemeral scratch corpus (rmtree'd below) → workdir_root(), the
    # snapshot_curation rationale
    workdir = tempfile.mkdtemp(prefix="schemaevo-", dir=workdir_root())
    try:
        root = os.path.join(workdir, "corpus")
        snapshot_append(docs.filter(F.col("doc_id") % 3 != 0), root)  # v1
        snapshot_append(  # v2: adds `quality`
            docs.filter(F.col("doc_id") % 3 == 0).withColumn(
                "quality", F.col("n_chars").cast("double") * 0.25
            ),
            root,
        )
        v1_lacked = "quality" not in snapshot_schema(root, 1).fieldNames()
        from pysparkdb.queries.base import dsum

        cur = snapshot_read(spark, root)  # merged schema: quality present
        out = (
            cur.groupBy("lang")
            .agg(
                bigint(F.count(F.lit(1))).alias("n_docs"),
                bigint(F.count("quality")).alias("n_scored"),
                dsum(F.col("quality")).alias("sum_quality"),
            )
            .withColumn("v1_lacked_quality", F.lit(bool(v1_lacked)))
            .collect()  # materialize before the scratch root is removed
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    # JVM-side assembly of the bounded per-lang certificate (|langs| rows)
    # — no Python-worker RDD in the plan (VERDICT r14 task #1).
    from pysparkdb.queries.base import jvm_rows_df

    return jvm_rows_df(
        spark,
        out,
        "lang string, n_docs long, n_scored long, sum_quality double, "
        "v1_lacked_quality boolean",
    )


@register(
    "pipeline_expectations",
    """
    WITH ord AS (
      SELECT CAST(COUNT(o_orderpriority) AS DOUBLE) / COUNT(*) AS complete_priority,
             CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*) AS unique_okey,
             CAST(COUNT(c.c_custkey) AS DOUBLE) / COUNT(*) AS ri_custkey
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    li AS (
      SELECT CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS disc_in_range,
             CAST(SUM(CASE WHEN l_quantity <= 30
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS qty_le_30
      FROM lineitem
    ),
    doc AS (
      SELECT CAST(COUNT(lang) AS DOUBLE) / COUNT(*) AS complete_lang,
             CAST(SUM(CASE WHEN n_chars >= 100
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS min_len_100
      FROM documents
    )
    SELECT entity, expectation, metric, threshold,
           metric >= threshold AS ok
    FROM (
      SELECT 'orders' AS entity, 'complete_o_orderpriority' AS expectation,
             complete_priority AS metric, CAST(0.999 AS DOUBLE) AS threshold FROM ord
      UNION ALL
      SELECT 'orders', 'unique_o_orderkey', unique_okey, CAST(0.999 AS DOUBLE) FROM ord
      UNION ALL
      SELECT 'orders', 'ri_o_custkey', ri_custkey, CAST(0.999 AS DOUBLE) FROM ord
      UNION ALL
      SELECT 'lineitem', 'range_l_discount', disc_in_range, CAST(0.999 AS DOUBLE) FROM li
      UNION ALL
      SELECT 'lineitem', 'range_l_quantity_le_30', qty_le_30, CAST(0.99 AS DOUBLE) FROM li
      UNION ALL
      SELECT 'documents', 'complete_lang', complete_lang, CAST(0.999 AS DOUBLE) FROM doc
      UNION ALL
      SELECT 'documents', 'min_len_100', min_len_100, CAST(0.95 AS DOUBLE) FROM doc
    ) t
    """,
    "pipeline", "quality", "expectations",
)
def pipeline_expectations(spark, sf_dir):
    """Declarative data-quality expectation suite (Deequ/Great-Expectations
    shape, beyond-reference): completeness, key-uniqueness, referential
    integrity, and range-conformance metrics computed as ONE aggregation
    pass per table plus one broadcast key-join for RI, then unpivoted to
    (entity, expectation, metric, threshold, ok) verdict rows — the gate a
    100 TB ingest runs before promoting a snapshot.

    Shape: 3 table scans, each partial-aggregated (conditional counts
    fold map-side; the distinct-count expands one extra Exchange on
    orders); the RI join carries only the dimension's key column and AQE
    picks broadcast when it fits. Each table's 1-row aggregate unpivots
    to verdict rows through ONE inline-table explode — a union of
    per-metric selects would instead re-execute the whole aggregation per
    constraint (column pruning specializes each branch, so nothing
    reuses; the round-7 recompute bug class). No row ever leaves the
    executors unaggregated. All metrics are exact-integer ratios
    (COUNT/SUM(CASE) over COUNT) — one deterministic double division per
    metric, hash-stable with no rounding. The suite is deliberately
    mixed-verdict at every SF (range_l_quantity_le_30 ≈ 0.60 and
    min_len_100 ≈ 0.93 fail their thresholds; the rest pass) so the ok
    column is never vacuously uniform."""
    t = tables(spark, sf_dir)
    o, c, l, d = t["orders"], t["customer"], t["lineitem"], t["documents"]
    n = F.count(F.lit(1))

    # RI key join: the dimension's single key column is small enough for
    # AQE to pick broadcast at test SF, but it is NOT forced — at 100 TB a
    # fact-sized "dimension" must be allowed to shuffle-join.
    ord_agg = (
        o.join(
            c.select("c_custkey"),
            o["o_custkey"] == c["c_custkey"],
            "left",
        ).agg(
            (F.count("o_orderpriority").cast("double") / n).alias("complete_priority"),
            (F.count_distinct("o_orderkey").cast("double") / n).alias("unique_okey"),
            (F.count("c_custkey").cast("double") / n).alias("ri_custkey"),
        )
    )
    li_agg = l.agg(
        (
            F.sum(F.col("l_discount").between(0.0, 0.1).cast("long")).cast("double") / n
        ).alias("disc_in_range"),
        (
            F.sum((F.col("l_quantity") <= 30).cast("long")).cast("double") / n
        ).alias("qty_le_30"),
    )
    doc_agg = d.agg(
        (F.count("lang").cast("double") / n).alias("complete_lang"),
        (
            F.sum((F.col("n_chars") >= 100).cast("long")).cast("double") / n
        ).alias("min_len_100"),
    )

    def verdicts(agg_df, entity, spec):
        # spec: [(metric_col, expectation_name, threshold)] — ONE select
        # consuming the 1-row aggregate once: explode an inline array of
        # (expectation, metric, threshold) structs.
        rows = F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("expectation"),
                    F.col(col).alias("metric"),
                    F.lit(thr).alias("threshold"),
                )
                for col, name, thr in spec
            ])
        )
        return agg_df.select(rows.alias("_r")).select(
            F.lit(entity).alias("entity"),
            "_r.expectation", "_r.metric", "_r.threshold",
        )

    combined = (
        verdicts(ord_agg, "orders", [
            ("complete_priority", "complete_o_orderpriority", 0.999),
            ("unique_okey", "unique_o_orderkey", 0.999),
            ("ri_custkey", "ri_o_custkey", 0.999),
        ])
        .unionAll(verdicts(li_agg, "lineitem", [
            ("disc_in_range", "range_l_discount", 0.999),
            ("qty_le_30", "range_l_quantity_le_30", 0.99),
        ]))
        .unionAll(verdicts(doc_agg, "documents", [
            ("complete_lang", "complete_lang", 0.999),
            ("min_len_100", "min_len_100", 0.95),
        ]))
    )
    return combined.withColumn("ok", F.col("metric") >= F.col("threshold"))


@register(
    "pipeline_mix_divergence",
    """
    WITH g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM documents GROUP BY lang),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k FROM g)
    SELECT lang, cnt,
           ROUND(CAST(cnt AS DOUBLE) / n, 6) AS share,
           ROUND((CAST(cnt AS DOUBLE) / n)
                 * ln((CAST(cnt AS DOUBLE) / n) * k), 6) AS kl_term,
           ROUND(-(CAST(cnt AS DOUBLE) / n)
                 * ln(CAST(cnt AS DOUBLE) / n), 6) AS entropy_term
    FROM g CROSS JOIN tot
    """,
    "pipeline", "text", "mix",
)
def pipeline_mix_divergence(spark, sf_dir):
    """Training-mix monitoring: per-language corpus share, KL-divergence
    contribution against a uniform target mix (p·ln(p/q), q = 1/k), and
    Shannon-entropy contribution (−p·ln p) — the dashboard numbers a
    data-curation pipeline tracks to detect language drift between crawl
    snapshots (beyond-reference). One group-by over documents plus a
    broadcast 1-row totals frame; integer counts make every share an
    exact ratio, and the ln() results round to 6dp on both sides (the
    text_tfidf last-ulp convention). kl_term is signed — positive for
    over-represented languages (en), negative for under-represented —
    so the column is structurally non-vacuous on the skewed lang mix."""
    d = tables(spark, sf_dir)["documents"]
    g = d.groupBy("lang").agg(bigint(F.count(F.lit(1))).alias("cnt"))
    tot = g.agg(
        bigint(F.sum("cnt")).alias("n"), bigint(F.count(F.lit(1))).alias("k")
    )
    share = F.col("cnt").cast("double") / F.col("n")
    return g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "cnt",
        F.round(share, 6).alias("share"),
        F.round(share * F.log(share * F.col("k")), 6).alias("kl_term"),
        F.round(-share * F.log(share), 6).alias("entropy_term"),
    )


@register(
    "pipeline_incremental_distinct",
    """
    WITH b AS (SELECT doc_id % 4 AS batch, text FROM documents)
    SELECT CAST(batch AS BIGINT) AS batch,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_docs,
           TRUE AS within_bound
    FROM b GROUP BY batch
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS batch,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_docs,
           TRUE AS within_bound
    FROM documents
    """,
    "pipeline", "sketch", "incremental",
)
def pipeline_incremental_distinct(spark, sf_dir):
    """Incremental corpus-cardinality tracking via mergeable HLL sketches
    (Datasketches hll_sketch_agg / hll_union_agg, beyond-reference): the
    corpus arrives as 4 ingest batches (doc_id % 4); each batch builds its
    OWN sketch — the tiny per-snapshot state a versioned store would
    persist — and the global estimate comes from hll_union_agg over the
    4 sketch rows, never rescanning earlier batches. At 100 TB this is
    the only viable shape for corpus-wide distinct tracking: per-batch
    sketches are KBs, the union is a 4-row aggregate, and history is
    never re-read.

    Self-certifying (the op_approx_distinct convention — sketches are
    engine-specific): rows carry the EXACT per-batch / global distinct
    counts plus a 5%-relative-error boolean for the sketch estimate
    (lgConfigK=12 → σ ≈ 1.6%); the oracle emits the exact counts and
    TRUE, so a hash match certifies both the exact path and the sketch's
    error bound. The merged row (batch = -1) additionally certifies that
    the UNION of independently-built sketches estimates the global
    cardinality — the incremental property itself."""
    from pysparkdb.pins import pin

    d = tables(spark, sf_dir)["documents"]
    b = d.select((F.col("doc_id") % 4).cast("long").alias("batch"), "text")
    # `per` (4 rows: one sketch + exact count per batch) feeds BOTH the
    # per-batch verdict rows and the union row; left lazy, column pruning
    # specializes each branch and the whole corpus-wide sketch/distinct
    # build runs twice (round-7 recompute bug class) — pin the 4-row frame.
    per = pin(b.groupBy("batch").agg(
        bigint(F.count_distinct("text")).alias("exact_docs"),
        F.hll_sketch_agg("text", F.lit(12)).alias("sk"),
    ))
    per_rows = per.select(
        "batch",
        "exact_docs",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_docs"))
            / F.col("exact_docs")
            <= 0.05
        ).alias("within_bound"),
    )
    global_exact = d.agg(bigint(F.count_distinct("text")).alias("exact_docs"))
    merged = (
        per.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(F.broadcast(global_exact))
        .select(
            F.lit(-1).cast("long").alias("batch"),
            "exact_docs",
            (
                F.abs(F.col("est") - F.col("exact_docs")) / F.col("exact_docs")
                <= 0.05
            ).alias("within_bound"),
        )
    )
    return per_rows.unionAll(merged)


@register(
    "emb_centroid_shift",
    """
    WITH ex AS (
      SELECT label, t.i AS pos, CAST(embedding[t.i] AS DOUBLE) AS val
      FROM embeddings,
           LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) t
    ),
    per AS (
      SELECT label, pos,
             CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS mean
      FROM ex GROUP BY label, pos
    ),
    gctr AS (
      SELECT pos,
             CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS gmean
      FROM ex GROUP BY pos
    )
    SELECT label,
           ROUND(SQRT(CAST(SUM(CAST((mean - gmean) * (mean - gmean)
                                    AS DECIMAL(25,12))) AS DOUBLE)), 6)
             AS centroid_shift
    FROM per JOIN gctr USING (pos)
    GROUP BY label
    """,
    "pipeline", "similarity", "drift",
)
def emb_centroid_shift(spark, sf_dir):
    """Per-label embedding-centroid drift: L2 distance between each
    label's centroid and the global centroid — the cluster-drift monitor
    a curation pipeline runs across crawl snapshots to catch embedding
    distribution shift before it poisons ANN indexes (beyond-reference).

    Shape: posexplode to (label, pos, val) — 64 rows per vector — then
    ONE shuffle keyed (label, pos); the global centroid re-aggregates the
    per-label partials (64·|labels| rows, map-side trivial) rather than
    rescanning, and the final distance folds 64 dims per label. At 100 TB
    the exploded frame is wide but every aggregation is partial-agg
    friendly and the result is |labels| rows.

    Determinism: element sums use the emb_norm_stats convention (exact
    DECIMAL(25,6) casts — associative, order-free); means and diffs are
    then single deterministic double ops per (label, pos); the cross-dim
    sum of squares uses DECIMAL(25,12) (squares of centroid gaps are
    ~1e-4) and the final SQRT rounds to 6dp on both sides."""
    e = tables(spark, sf_dir)["embeddings"]
    ex = e.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
    ).withColumn("pos", F.col("pos") + 1)  # 1-based like the oracle's range()
    per = ex.groupBy("label", "pos").agg(
        (F.sum(F.col("val").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)))
        .alias("mean"),
        F.sum(F.col("val").cast("decimal(25,6)")).alias("_psum"),
        bigint(F.count(F.lit(1))).alias("_pn"),
    )
    # Global centroid from the per-label partials: Σ over labels of the
    # exact decimal partial sums — no second scan of the exploded frame.
    glob = per.groupBy("pos").agg(
        (F.sum("_psum").cast("double") / F.sum("_pn")).alias("gmean")
    )
    diff = F.col("mean") - F.col("gmean")
    return (
        per.join(glob, "pos")
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(F.sum((diff * diff).cast("decimal(25,12)")).cast("double")),
                6,
            ).alias("centroid_shift")
        )
    )


@register(
    "dedup_containment",
    f"""
    WITH sh AS (SELECT doc_id,
                       unnest({_DUCK_SHINGLES}) AS s
                FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           c * 1.0 / sa.n AS cont_a,
           c * 1.0 / sb.n AS cont_b
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE GREATEST(c * 1.0 / sa.n, c * 1.0 / sb.n) >= 0.8
    """,
    "pipeline", "dedup", "text",
)
def dedup_containment(spark, sf_dir):
    """Asymmetric shingle-containment near-dup pairs (|A∩B|/|A| ≥ 0.8 in
    either direction) — the detector Jaccard structurally misses: a
    document embedded verbatim in a 10× larger one has J ≤ 0.1 but
    containment 1.0 (quote expansion, boilerplate wrapping — the classic
    Broder containment case an LLM-data dedup pass must catch).
    pipeline.dedup.containment_pairs: same bounded shingle-collision
    join as dedup_ngram_jaccard (stop-shingle cap available at scale);
    divisions of exact BIGINT counts, hash-stable unrounded."""
    return dedup.containment_pairs(
        tables(spark, sf_dir)["documents"], threshold=0.8
    )


@register(
    "text_winnowing",
    """
    WITH t AS (SELECT doc_id, string_split(text,' ') AS t FROM documents
               WHERE len(string_split(text,' ')) >= 6),
    sh AS (SELECT doc_id, g.i AS pos,
                  list_reduce(
                    [CAST(ascii(c) AS BIGINT) FOR c IN
                     string_split(array_to_string(t[g.i+1:g.i+3],' '), '')],
                    (acc,x) -> (acc*31+x)%1000000007) AS h
           FROM t, LATERAL (SELECT unnest(range(0, len(t)-2)) AS i) g),
    win AS (SELECT doc_id, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
            FROM sh),
    sel AS (SELECT DISTINCT doc_id, m FROM win WHERE pos >= 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM sel a JOIN sel b ON a.m = b.m AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
    "pipeline", "text", "fingerprint", "dedup",
)
def text_winnowing(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): word 3-gram rolling hashes, then the
    MINIMUM hash of every 4-hash window is selected; any shared passage of
    ≥ w+k−1 = 6 tokens is GUARANTEED to share a selected fingerprint —
    the deterministic-recall complement of MinHash's probabilistic bands.
    Pairs sharing ≥ 3 selected fingerprints are reported (1-fingerprint
    collisions are background noise: 3,346 singleton pairs vs ~30 real
    near-dup pairs at sf0.01).

    Shape: explode to (doc, pos, shingle) → per-shingle polynomial hash
    (the text_rolling_hash rule: base 31 mod 1e9+7, exact integer math,
    engine-reproducible) → per-doc window MIN (one doc-keyed sort within
    partitions) → DISTINCT selected hashes — the compact fingerprint set
    (~|tokens|/w per doc) that feeds a hash-keyed self-join exactly like
    the shingle-collision join in dedup_ngram_jaccard. The sel frame
    feeds BOTH sides of that self-join, so it is pinned (round-7
    recompute class). At 100 TB the fingerprint join is bounded the same
    way as the shingle join: selected-hash buckets, with hot (stop-
    phrase) fingerprints removable by frequency cap before the join."""
    from pysparkdb.pins import pin
    from pyspark.sql import Window

    d = tables(spark, sf_dir)["documents"]
    t = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 6
    )
    sh = t.select(
        "doc_id",
        F.posexplode(
            F.expr("transform(sequence(0, size(t) - 3), "
                   "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))")
        ).alias("pos", "sh"),
    )
    h = F.expr(
        """
        aggregate(
          slice(transform(split(sh, ''), c -> CAST(ascii(c) AS BIGINT)),
                2, size(split(sh, '')) - 1),
          CAST(ascii(substring(sh, 1, 1)) AS BIGINT),
          (acc, x) -> (acc * 31 + x) % 1000000007
        )
        """
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-3, 0)
    sel = pin(
        sh.select("doc_id", "pos", h.alias("h"))
        .select("doc_id", "pos", F.min("h").over(w).alias("m"))
        .filter(F.col("pos") >= 3)
        .select("doc_id", "m")
        .distinct()
    )
    # explicit per-side column names: df["m"] == df2["m"] on a shared
    # persisted frame relies on Spark's self-join disambiguation and
    # warns "trivially true predicate" — rename instead, so the join
    # condition is unambiguous by construction
    a = sel.withColumnsRenamed({"doc_id": "doc_a", "m": "ma"})
    b = sel.withColumnsRenamed({"doc_id": "doc_b", "m": "mb"})
    return (
        a.join(b, (F.col("ma") == F.col("mb")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(bigint(F.count(F.lit(1))).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


@register(
    "text_naive_bayes",
    """
    WITH tok AS (
      SELECT doc_id AS id, lang AS actual,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    train AS (SELECT * FROM tok WHERE id % 2 = 0),
    test  AS (SELECT * FROM tok WHERE id % 2 <> 0),
    tl AS (SELECT actual AS label, tok, COUNT(*) AS c
           FROM train GROUP BY actual, tok),
    vocab AS (SELECT DISTINCT tok FROM train),
    consts AS (
      SELECT nl.actual AS label,
             CAST(ROUND(LN(nd.n_docs * 1.0 / t.t), 6) AS DECIMAL(25,6))
                 AS log_prior,
             CAST(ROUND(LN(nl.n_lang + v.v), 6) AS DECIMAL(25,6))
                 AS log_denom
      FROM (SELECT actual, COUNT(*) AS n_lang FROM train GROUP BY actual) nl
      JOIN (SELECT actual, COUNT(DISTINCT id) AS n_docs
            FROM train GROUP BY actual) nd USING (actual)
      CROSS JOIN (SELECT COUNT(*) AS v FROM vocab) v
      CROSS JOIN (SELECT COUNT(DISTINCT id) AS t FROM train) t
    ),
    test_iv AS (SELECT te.* FROM test te
                WHERE te.tok IN (SELECT tok FROM vocab)),
    doc_stats AS (SELECT id, actual, COUNT(*) AS m
                  FROM test_iv GROUP BY id, actual),
    matched AS (
      SELECT te.id, tl.label,
             SUM(CAST(ROUND(LN(tl.c + 1), 6) AS DECIMAL(25,6))) AS s
      FROM test_iv te JOIN tl USING (tok)
      GROUP BY te.id, tl.label
    ),
    scores AS (
      SELECT d.id, d.actual, c.label,
             c.log_prior - d.m * c.log_denom
             + COALESCE(m2.s, CAST(0 AS DECIMAL(25,6))) AS score
      FROM doc_stats d CROSS JOIN consts c
      LEFT JOIN matched m2 ON m2.id = d.id AND m2.label = c.label
    ),
    pred AS (
      SELECT id, actual, label AS predicted,
             ROW_NUMBER() OVER (PARTITION BY id
                                ORDER BY score DESC, label) AS rk
      FROM scores
    )
    SELECT actual AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(SUM(CASE WHEN predicted = actual THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS accuracy
    FROM pred WHERE rk = 1
    GROUP BY actual ORDER BY lang
    """,
    "pipeline", "text", "classifier",
)
def text_naive_bayes(spark, sf_dir):
    """Relational Naive Bayes language classifier — train AND inference as
    one Catalyst plan (pipeline/text.py:naive_bayes_predict): the
    fastText-style label filter of pretraining pipelines (lang-ID /
    quality bucketing) with no model artifact, no UDF, no serving tier.
    Even doc_ids train, odd doc_ids score; output is the per-language
    confusion summary (n_test, n_correct, accuracy). Beyond-reference:
    the reference has no learning operator at all (SURVEY §2.10).

    Honesty note: the synthetic corpus draws every language's text from
    ONE shared vocabulary, so languages are not text-separable here —
    the measured accuracies reflect prior dominance (en) plus weak count
    noise, which is exactly what NB should output on this data. The
    LEARNING certificate lives in pytest
    (test_pipeline.py::test_naive_bayes_learns_separable_corpus): on a
    planted separable corpus the same plan scores ≥ 95 %.

    Determinism: every log term rounds to 1e-6 and sums as
    DECIMAL(25,6) — class scores are exact, argmax ties break on label —
    so the full train→score→argmax pipeline hash-matches the oracle
    exactly despite double-log math inside. Scale: one (label, token)
    count Exchange, token-keyed scoring join (Zipf skew → AQE), one
    window argmax; the per-label constants frame broadcasts."""
    pred = text.naive_bayes_predict(tables(spark, sf_dir)["documents"])
    correct = F.when(F.col("predicted") == F.col("actual"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("actual").alias("lang"))
        .agg(
            bigint(F.count(F.lit(1))).alias("n_test"),
            bigint(F.sum(correct)).alias("n_correct"),
            F.round(F.sum(correct) / F.count(F.lit(1)), 6).alias("accuracy"),
        )
        .orderBy("lang")
    )


@register(
    "pipeline_token_budget",
    """
    WITH q AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             (CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 1000
                   THEN 1.0 ELSE 0.0 END
              + CASE WHEN len(list_filter(string_split(text, ' '),
                                          t -> t = 'a' OR t = 'the'))
                          / len(string_split(text, ' ')) > 0.02
                     THEN 1.0 ELSE 0.0 END
              + CASE WHEN (length(text) - len(string_split(text, ' ')) + 1)
                          / len(string_split(text, ' ')) < 10
                     THEN 1.0 ELSE 0.0 END) / 3.0 AS score
      FROM documents
    ), ranked AS (
      SELECT doc_id, lang, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before,
             CAST(FLOOR(SUM(n_tokens) OVER (PARTITION BY lang) * 3 / 10.0)
                  AS BIGINT) AS budget
      FROM q
    )
    SELECT lang, MIN(budget) AS budget_tokens,
           CAST(COUNT(*) FILTER (WHERE cum_before < budget) AS BIGINT)
               AS n_kept,
           CAST(SUM(n_tokens) FILTER (WHERE cum_before < budget)
                AS BIGINT) AS kept_tokens,
           CAST(SUM(doc_id) FILTER (WHERE cum_before < budget)
                AS BIGINT) AS kept_checksum
    FROM ranked GROUP BY lang ORDER BY lang
    """,
    "pipeline", "text", "curation",
)
def pipeline_token_budget(spark, sf_dir):
    """Token-budgeted corpus selection — the curation op that turns 'we
    can afford 30 % of each language's tokens' into an exact, reproducible
    keep-set: within every language, documents rank by quality score
    (desc, doc_id tie-break) and are kept while the EXCLUSIVE running
    token sum is under the stratum's budget (floor of 30 % of its token
    mass) — the last kept doc may overshoot by part of itself, the
    standard take-while convention, and every stratum keeps ≥ 1 doc.
    kept_checksum (Σ doc_id) certifies exact MEMBERSHIP, not just counts
    (the text_domain_cap convention).

    Scale shape: ONE hash Exchange on lang serves both windows AND the
    final rollup (total-mass window, running-sum window and groupBy all
    share the partition spec; Catalyst plans one sort — gated in
    test_plan_quality); the only other exchange is the ORDER BY's range
    partition of the per-language result rows. Parallelism is
    per-stratum, which is why the budget is allocated per language
    rather than as one global cumsum (a global quality order would
    serialize the corpus through one partition; with finer strata —
    language × domain-bucket, the text_pack knob — the same plan scales
    to any corpus)."""
    from pyspark.sql import Window

    d = tables(spark, sf_dir)["documents"]
    q = text.quality_metrics(d, keep_cols=("lang",))
    w_lang = Window.partitionBy("lang")
    w_run = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality_score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = q.select(
        "doc_id", "lang", "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w_run), F.lit(0)).alias("cum_before"),
        F.floor(F.sum("n_tokens").over(w_lang) * 3 / 10.0)
        .cast("long").alias("budget"),
    )
    kept = F.col("cum_before") < F.col("budget")
    return (
        ranked.groupBy("lang")
        .agg(
            F.min("budget").alias("budget_tokens"),
            bigint(F.count(F.when(kept, 1))).alias("n_kept"),
            bigint(F.sum(F.when(kept, F.col("n_tokens")))).alias("kept_tokens"),
            bigint(F.sum(F.when(kept, F.col("doc_id")))).alias("kept_checksum"),
        )
        .orderBy("lang")
    )
