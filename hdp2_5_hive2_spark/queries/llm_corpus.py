"""LLM-pipeline operator corpus: dedup / similarity / text analysis over the
driver's `documents` and `embeddings` tables.

Oracle discipline: the Spark operators use JVM hashing (xxhash64) for
candidate *generation*, which DuckDB can't replicate — but every *output*
below is defined by exact set/arithmetic semantics (Jaccard ratios, cosine
ranks, md5 fingerprints), so the oracles recompute the same answer
exhaustively (O(n²) within the sf0.01 correctness scale) and the results
must agree exactly. SimHash output depends on the hash function itself, so
it registers without an oracle (driver rows-only check) and is
property-tested in tests/test_llm.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hdp2_5_hive2_spark import stats
from hdp2_5_hive2_spark.llm.text import plan_checkpoint
from hdp2_5_hive2_spark.catalog import load_tables
from hdp2_5_hive2_spark.llm import curation, dedup, retrieval, similarity, text
from hdp2_5_hive2_spark.queries.registry import query

# DuckDB-side shingle CTE reused by the Jaccard oracles (token 3-grams,
# distinct, over whitespace-split tokens — mirrors llm.dedup.shingles).
_SHINGLES_CTE = """
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    )
"""


@query(
    "llm_text_stats",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\\s+'))                    AS n_tokens,
           length(text)                                                   AS n_chars_txt,
           length(text) - length(replace(text, ' ', ''))                  AS n_spaces,
           CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
             / len(string_split_regex(trim(text), '\\s+'))                AS avg_token_len
    FROM documents
    """,
    tags=("llm", "text"),
)
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char statistics (llm.text.text_stats)."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.text_stats(d).select("doc_id", "n_tokens", "n_chars_txt", "n_spaces", "avg_token_len")


@query(
    "llm_quality_score",
    oracle="""
    SELECT doc_id, n_tokens, stopword_hits, alpha_chars,
           (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
            + CASE WHEN stopword_hits > 0 THEN 1 ELSE 0 END
            + CASE WHEN alpha_chars * 2 > n_chars THEN 1 ELSE 0 END) AS quality_score,
           (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
            + CASE WHEN stopword_hits > 0 THEN 1 ELSE 0 END
            + CASE WHEN alpha_chars * 2 > n_chars THEN 1 ELSE 0 END) >= 2 AS keep
    FROM (
      SELECT doc_id, length(text) AS n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             len(list_intersect(string_split_regex(trim(text), '\\s+'),
                 ['the','and','of','to','a','in','is','it','you','that'])) AS stopword_hits,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
      FROM documents
    ) t
    """,
    tags=("llm", "text", "quality"),
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style quality filter (llm.text.quality_score)."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.quality_score(d).select(
        "doc_id", "n_tokens", "stopword_hits", "alpha_chars", "quality_score", "keep"
    )


@query(
    "llm_lang_id",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN mx = 0 THEN 'und'
                WHEN h_de = mx THEN 'de'
                WHEN h_en = mx THEN 'en'
                WHEN h_es = mx THEN 'es'
                WHEN h_fr = mx THEN 'fr'
                ELSE 'zh' END AS lang_pred
    FROM (
      SELECT doc_id, lang,
             len(list_intersect(t, ['the','and','of','to','a','in','is','it','you','that'])) AS h_en,
             len(list_intersect(t, ['el','la','de','que','y','en','un','ser','se','no'])) AS h_es,
             len(list_intersect(t, ['le','la','de','et','un','être','que','pour','dans','ce'])) AS h_fr,
             len(list_intersect(t, ['der','die','und','in','den','von','zu','das','mit','sich'])) AS h_de,
             len(list_intersect(t, ['的','一','是','不','了','人','我','在','有','他'])) AS h_zh,
             greatest(
               len(list_intersect(t, ['the','and','of','to','a','in','is','it','you','that'])),
               len(list_intersect(t, ['el','la','de','que','y','en','un','ser','se','no'])),
               len(list_intersect(t, ['le','la','de','et','un','être','que','pour','dans','ce'])),
               len(list_intersect(t, ['der','die','und','in','den','von','zu','das','mit','sich'])),
               len(list_intersect(t, ['的','一','是','不','了','人','我','在','有','他']))) AS mx
      FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    ) h
    """,
    tags=("llm", "text", "langid"),
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID with alphabetical tie-break (llm.text.lang_id)."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.lang_id(d).select("doc_id", "lang", "lang_pred")


@query(
    "llm_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp_md5,
           CAST(floor(length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) / 64) AS INTEGER) AS len_bucket
    FROM documents
    """,
    tags=("llm", "text", "dedup"),
)
def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprint (llm.text.fingerprint)."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.fingerprint(d).select("doc_id", "fp_md5", "len_bucket")


@query(
    "llm_exact_dedup",
    oracle="""
    SELECT fp, min(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM (
      SELECT doc_id + 1000000 AS doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
      UNION ALL
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ) u
    GROUP BY fp
    """,
    tags=("llm", "dedup", "bench"),
)
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a corpus with planted exact copies (every doc
    duplicated under id+1,000,000): keep min id, count copies."""
    d = load_tables(spark, sf_dir)["documents"]
    corpus = d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text").unionAll(
        d.select("doc_id", "text")
    )
    return dedup.exact_dedup(corpus)


@query(
    "llm_minhash_dedup",
    oracle=_SHINGLES_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    """,
    tags=("llm", "dedup", "minhash", "bench"),
)
def llm_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs at Jaccard >= 0.8 (llm.dedup.minhash_lsh_pairs,
    32 hashes, 16 bands of 2 → miss probability ~3e-12 at j=0.9). The oracle
    is the exhaustive O(n²) exact-Jaccard scan — outputs must agree exactly."""
    d = load_tables(spark, sf_dir)["documents"]
    return dedup.minhash_lsh_pairs(d, num_hashes=32, bands=16, threshold=0.8)


@query(
    "llm_ngram_jaccard",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    """,
    tags=("llm", "dedup", "jaccard"),
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs on the unblocked corpus
    (llm.dedup.ngram_jaccard_pairs): MinHash band pre-pruning generates
    candidates sub-quadratically, exact Jaccard verifies each one — the
    oracle is the exhaustive O(n²) exact-Jaccard scan, so any pruning miss
    fails the hash."""
    d = load_tables(spark, sf_dir)["documents"]
    return dedup.ngram_jaccard_pairs(d, threshold=0.8)


@query(
    "llm_simhash_dedup",
    oracle="""
    SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS INTEGER) AS hamming
    FROM documents
    WHERE doc_id < 200 AND text IS NOT NULL AND length(trim(text)) > 0
    """,
    tags=("llm", "dedup", "simhash"),
)
def llm_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming <= 3 over 64-bit signatures) with
    planted ground truth: 200 exact clones (doc_id + 1000000) are unioned in,
    and the result is restricted to the (original, its-clone) relation. Every
    planted pair MUST surface — identical text means identical signature
    (Hamming 0) and the pigeonhole blocking admits it deterministically — so
    the oracle is exactly the planted set; a single false negative breaks the
    match. Precision/organic-pair behavior (signature values are
    hash-function-dependent, not SQL-expressible) stays property-tested in
    tests/test_llm.py."""
    d = load_tables(spark, sf_dir)["documents"]
    clones = d.filter(F.col("doc_id") < 200).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = d.select("doc_id", "text").unionByName(clones)
    pairs = dedup.simhash_pairs(corpus)
    return pairs.filter(F.col("id_b") == F.col("id_a") + 1000000)


@query(
    "llm_top_bigrams",
    oracle="""
    SELECT ngram, n FROM (
      SELECT ngram, COUNT(*) AS n
      FROM (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS ngram
        FROM (SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents)
      ) g
      WHERE ngram <> ''
      GROUP BY ngram
    ) c
    ORDER BY n DESC, ngram
    LIMIT 20
    """,
    tags=("llm", "text", "ngrams"),
)
def llm_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams (Hive ngrams-UDAF parity — FunctionRegistry.java:398)."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.top_ngrams(d, n=2, k=20)


@query(
    "llm_ann_topk",
    oracle="""
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                               CAST(q.embedding AS DOUBLE[])) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings c
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
      WHERE c.vec_id >= 5
    ) r WHERE rank <= 10
    """,
    tags=("llm", "similarity", "ann", "bench"),
)
def llm_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (llm.similarity
    .brute_force_topk). Ranks only — scores are engine-float-order dependent
    in the last ULP; ranks are stable because random 64-d vectors never tie."""
    e = load_tables(spark, sf_dir)["embeddings"]
    res = similarity.brute_force_topk(
        corpus=e.filter(F.col("vec_id") >= 5), queries=e.filter(F.col("vec_id") < 5), k=10
    )
    return res.select("query_id", "neighbor_id", "rank")


@query(
    "llm_embedding_dup_pairs",
    oracle="""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5) AS v
      FROM embeddings WHERE vec_id < 50
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.99
    """,
    tags=("llm", "similarity", "dedup"),
)
def llm_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: corpus with 50 planted scaled copies
    (cosine ≈ 1.0); random 64-d pairs never approach the 0.99 threshold, so
    engine float-rounding can't flip membership."""
    e = load_tables(spark, sf_dir)["embeddings"]
    copies = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(similarity.as_double_array("embedding"), lambda x: x * 1.5).alias("embedding"),
    )
    corpus = e.select("vec_id", similarity.as_double_array("embedding").alias("embedding")).unionAll(
        copies
    )
    return similarity.cosine_dup_pairs(corpus, threshold=0.99)


@query(
    "llm_lsh_ann_topk",
    oracle="""
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                               CAST(q.embedding AS DOUBLE[])) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings c
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
      WHERE c.vec_id >= 5
    ) r WHERE rank <= 10
    """,
    tags=("llm", "similarity", "lsh"),
)
def llm_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (llm.similarity.lsh_topk) — the 100 TB
    scale path — run at a full-recall parameterization so it is checkable
    against the exact-SQL top-k: bits=2/tables=32 leaves a per-neighbor miss
    probability of (1 - 0.38)^32 ≈ 2e-7 on isotropic vectors, and the seeded
    hyperplanes make the outcome deterministic for a fixed dataset (verified
    green at sf0.01/sf0.001). Production parameters (bits=16, tables=8 on
    clustered embeddings) and the recall/candidate-reduction trade-off are
    exercised in tests/test_llm.py. Ranks only — scores differ in the last
    ULP across engines."""
    e = load_tables(spark, sf_dir)["embeddings"]
    res = similarity.lsh_topk(
        corpus=e.filter(F.col("vec_id") >= 5),
        queries=e.filter(F.col("vec_id") < 5),
        k=10,
        bits=2,
        tables=32,
    )
    return res.select("query_id", "neighbor_id", "rank")


@query(
    "llm_ivf_ann_topk",
    oracle="""
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                               CAST(q.embedding AS DOUBLE[])) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings c
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
      WHERE c.vec_id >= 5
    ) r WHERE rank <= 10
    """,
    tags=("llm", "similarity", "ivf"),
)
def llm_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (llm.similarity.ivf_topk): coarse k-means cells
    + probed exact re-rank, run at the full-recall parameterization
    (n_probe = n_centroids → every cell probed → candidate set = whole
    corpus) so the result provably equals the exact-SQL top-k while still
    exercising the complete IVF machinery: sample-based centroid training,
    corpus cell assignment, probe join, re-rank. Reduced-probe recall curves
    are asserted in tests/test_llm.py. Ranks only — scores differ in the
    last ULP across engines."""
    e = load_tables(spark, sf_dir)["embeddings"]
    res = similarity.ivf_topk(
        corpus=e.filter(F.col("vec_id") >= 5),
        queries=e.filter(F.col("vec_id") < 5),
        k=10,
        n_centroids=8,
        n_probe=8,
    )
    return res.select("query_id", "neighbor_id", "rank")


@query(
    "llm_context_ngrams",
    oracle="""
    WITH toks AS (
      SELECT string_split_regex(trim(text), '\\s+') AS t FROM documents
    ), followers AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> CASE WHEN t[i] = 'the' THEN t[i+1] END)) AS follower
      FROM toks
    )
    SELECT follower AS ngram, COUNT(*) AS n
    FROM followers WHERE follower IS NOT NULL
    GROUP BY follower ORDER BY n DESC, ngram ASC LIMIT 15
    """,
    tags=("llm", "text", "ngrams"),
)
def llm_context_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """context_ngrams parity (FunctionRegistry.java:399 in the reference):
    top-15 words following 'the' — context pattern ['the', None]."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.context_ngrams(d, context=["the", None], k=15)


@query(
    "fn_histogram_numeric",
    oracle="""
    SELECT CAST(n_chars % 20 AS BIGINT) AS x, CAST(COUNT(*) AS BIGINT) AS y
    FROM documents WHERE n_chars IS NOT NULL
    GROUP BY x
    """,
    tags=("agg", "sketch", "function"),
)
def fn_histogram_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram_numeric UDAF (FunctionRegistry.java:393 — the NLP-paper
    streaming histogram), run in its deterministic regime: nbins (32)
    exceeds the distinct-value count of the input (n_chars % 20 → 20
    values), so the sketch never merges centroids and returns the exact
    (value, count) pairs regardless of partition/merge order — which a
    GROUP BY oracle can check. The approximate regime (nbins < distinct,
    merge-order-dependent output) keeps its bin-count and mass-conservation
    property tests in tests/test_llm.py."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("n_chars").isNotNull())
    from pyspark.sql.functions import explode, expr

    return (
        d.select((F.col("n_chars") % 20).alias("v"))
        .select(expr("histogram_numeric(v, 32)").alias("h"))
        .select(explode("h").alias("bin"))
        .select(
            F.col("bin.x").cast("bigint").alias("x"),
            F.col("bin.y").cast("bigint").alias("y"),
        )
    )


@query(
    "multimodal_image_decode_stats",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 5 AS h, 8 + doc_id % 7 AS w
      FROM documents WHERE doc_id < 64
    ), px AS (
      SELECT d.doc_id, d.w, d.h,
             (d.doc_id * 7 + y.y * 31 + x.x * 17) % 256 AS v
      FROM dims d, generate_series(0, 11) y(y), generate_series(0, 13) x(x)
      WHERE y.y < d.h AND x.x < d.w
    )
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_px,
           CAST(MIN(v) AS BIGINT) AS min_px,
           CAST(MAX(v) AS BIGINT) AS max_px
    FROM px GROUP BY doc_id
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the from-spec PNG codec
    (llm/media_codecs.py): each document gets a deterministic grayscale
    image (pixel(y,x) = (doc_id*7 + y*31 + x*17) mod 256, geometry keyed
    by doc_id), which is ENCODED to actual PNG bytes (zlib stream, CRC'd
    chunks) and DECODED back inside one Arrow pass; the emitted exact-int
    pixel stats must equal the oracle's direct arithmetic — so any codec
    bug (filtering, striding, chunk framing) breaks the hash. Map-side
    only; payload bytes never shuffle. Replaces the FakeCodec stand-in for
    PNG/BMP/WAV (JPEG decodes via llm/jpeg.py, video containers via
    llm/avi.py and llm/mp4.py)."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 64)

    def run(batches):
        import numpy as np

        from hdp2_5_hive2_spark.llm.media_codecs import png_decode, png_encode

        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "width", "height", "n_pixels", "sum_px", "min_px", "max_px")}
            for k in pdf["doc_id"]:
                k = int(k)
                h, w = 8 + k % 5, 8 + k % 7
                px = (
                    (k * 7 + np.arange(h)[:, None] * 31 + np.arange(w)[None, :] * 17)
                    % 256
                ).astype(np.uint8)
                back = png_decode(png_encode(px))[:, :, 0].astype(np.int64)
                out["doc_id"].append(k)
                out["width"].append(back.shape[1])
                out["height"].append(back.shape[0])
                out["n_pixels"].append(back.size)
                out["sum_px"].append(int(back.sum()))
                out["min_px"].append(int(back.min()))
                out["max_px"].append(int(back.max()))
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(
        run,
        "doc_id bigint, width int, height int, n_pixels bigint, "
        "sum_px bigint, min_px bigint, max_px bigint",
    )


@query(
    "multimodal_audio_decode_stats",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 64 + doc_id % 32 AS n FROM documents WHERE doc_id < 48
    ), s AS (
      SELECT d.doc_id, d.n, (d.doc_id * 13 + t.t * 97) % 2001 - 1000 AS v
      FROM docs d, generate_series(0, 95) t(t)
      WHERE t.t < d.n
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(16000 AS INTEGER) AS rate,
           CAST(SUM(v) AS BIGINT) AS sum_s,
           CAST(MIN(v) AS BIGINT) AS min_s,
           CAST(MAX(v) AS BIGINT) AS max_s
    FROM s GROUP BY doc_id
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the from-spec WAV codec: a deterministic
    PCM-16 signal per document (sample(t) = (doc_id*13 + t*97) mod 2001
    − 1000) is encoded to actual RIFF/WAVE bytes and decoded back inside
    one Arrow pass; exact-int sample stats must match the oracle's direct
    arithmetic — the audio sibling of multimodal_image_decode_stats."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 48)

    def run(batches):
        import numpy as np

        from hdp2_5_hive2_spark.llm.media_codecs import wav_decode, wav_encode

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_samples", "rate", "sum_s", "min_s", "max_s")}
            for k in pdf["doc_id"]:
                k = int(k)
                n = 64 + k % 32
                s = ((k * 13 + np.arange(n) * 97) % 2001 - 1000).astype(np.int16)
                back, rate = wav_decode(wav_encode(s, 16000))
                back = back.astype(np.int64)
                out["doc_id"].append(k)
                out["n_samples"].append(back.size)
                out["rate"].append(rate)
                out["sum_s"].append(int(back.sum()))
                out["min_s"].append(int(back.min()))
                out["max_s"].append(int(back.max()))
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(
        run,
        "doc_id bigint, n_samples bigint, rate int, sum_s bigint, "
        "min_s bigint, max_s bigint",
    )


@query(
    "multimodal_video_frame_stats",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 2 + doc_id % 4 AS n, 7 + doc_id % 5 AS w, 5 + doc_id % 3 AS h
      FROM documents WHERE doc_id < 32
    ), px AS (
      SELECT d.doc_id, d.n, d.w, d.h,
             (d.doc_id * 11 + f.f * 53 + y.y * 31 + x.x * 17) % 256 AS v
      FROM docs d, generate_series(0, 5) f(f),
           generate_series(0, 7) y(y), generate_series(0, 11) x(x)
      WHERE f.f < d.n AND y.y < d.h AND x.x < d.w
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_frames,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST((MAX(n) - 1) * 40 AS BIGINT) AS last_ts_ms,
           CAST(SUM(v) AS BIGINT) AS sum_px,
           CAST(MIN(v) AS BIGINT) AS min_px,
           CAST(MAX(v) AS BIGINT) AS max_px
    FROM px GROUP BY doc_id
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode through the from-spec AVI container (llm/avi.py):
    each document gets a deterministic grayscale frame stack
    (pixel(f,y,x) = (doc_id*11 + f*53 + y*31 + x*17) mod 256, frame count
    and geometry keyed by doc_id, 25 fps timing), ENCODED to actual
    RIFF/AVI bytes (avih/strh/strf headers, movi '00db' DIB chunks, idx1
    index) and container-parsed + decoded back inside one Arrow pass; the
    exact-int pixel stats AND the strh-derived last-frame timestamp must
    equal the oracle's direct arithmetic — so any container bug (chunk
    framing, index offsets, DIB row padding/bottom-up order, dwRate/
    dwScale timing) breaks the hash. Map-side only; payload bytes never
    shuffle. Completes the media family: PNG/WAV decode stats + this —
    video is no longer the stubbed modality."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 32)

    def run(batches):
        import numpy as np

        from hdp2_5_hive2_spark.llm.avi import avi_decode_frames, avi_encode_dib

        cols = ("doc_id", "n_frames", "width", "height",
                "last_ts_ms", "sum_px", "min_px", "max_px")
        for pdf in batches:
            out = {k: [] for k in cols}
            for k in pdf["doc_id"]:
                k = int(k)
                n, w, h = 2 + k % 4, 7 + k % 5, 5 + k % 3
                frames = [
                    (
                        (k * 11 + f * 53
                         + np.arange(h)[:, None] * 31
                         + np.arange(w)[None, :] * 17) % 256
                    ).astype(np.uint8)
                    for f in range(n)
                ]
                decoded = avi_decode_frames(avi_encode_dib(frames, rate=1000, scale=40))
                stack = np.stack([px[:, :, 0] for _, px in decoded]).astype(np.int64)
                out["doc_id"].append(k)
                out["n_frames"].append(len(decoded))
                out["width"].append(stack.shape[2])
                out["height"].append(stack.shape[1])
                out["last_ts_ms"].append(decoded[-1][0])
                out["sum_px"].append(int(stack.sum()))
                out["min_px"].append(int(stack.min()))
                out["max_px"].append(int(stack.max()))
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(
        run,
        "doc_id bigint, n_frames bigint, width int, height int, "
        "last_ts_ms bigint, sum_px bigint, min_px bigint, max_px bigint",
    )


@query(
    "multimodal_video_container_audit",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 2 + doc_id % 5 AS n,
             16 * (1 + doc_id % 3) AS w, 16 * (1 + doc_id % 2) AS h
      FROM documents WHERE doc_id < 40
    ), sz AS (
      SELECT d.doc_id, d.n, d.w, d.h,
             50 + (d.doc_id * 7 + f.f * 13) % 100 AS nb
      FROM docs d, generate_series(0, 6) f(f) WHERE f.f < d.n
    )
    SELECT doc_id,
           'jpeg' AS codec,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(MAX(n) * 40 AS BIGINT) AS duration_ms,
           CAST(SUM(nb) AS BIGINT) AS total_bytes,
           CAST(MAX(nb) AS BIGINT) AS max_frame_bytes
    FROM sz GROUP BY doc_id
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_video_container_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-agnostic video CONTAINER AUDIT through the from-spec ISO
    BMFF parser (llm/mp4.py): each document gets a deterministic MP4
    (frame count/geometry/per-frame byte sizes keyed by doc_id, 25 fps)
    muxed with full sample tables, then audited by resolving
    stsd/stts/stsz/stsc/stco back out of the moov box — codec fourcc,
    geometry, sample count, mdhd duration, per-sample byte totals must
    equal the oracle's direct arithmetic. This is the 100 TB triage shape
    for crawled video: the parser touches ONLY box headers and sample
    tables (moov is a metadata-sized read; mdat is never scanned), so
    auditing an exabyte of video reads gigabytes. Map-side only."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 40)

    def run(batches):
        from hdp2_5_hive2_spark.llm.mp4 import mp4_mux, mp4_parse

        cols = ("doc_id", "codec", "width", "height",
                "n_samples", "duration_ms", "total_bytes", "max_frame_bytes")
        for pdf in batches:
            out = {k: [] for k in cols}
            for k in pdf["doc_id"]:
                k = int(k)
                n = 2 + k % 5
                w, h = 16 * (1 + k % 3), 16 * (1 + k % 2)
                frames = [
                    bytes([(k + i) % 256]) * (50 + (k * 7 + i * 13) % 100)
                    for i in range(n)
                ]
                (t,) = mp4_parse(mp4_mux(frames, w, h, codec="jpeg", sample_delta=40))
                out["doc_id"].append(k)
                out["codec"].append(t.codec)
                out["width"].append(t.width)
                out["height"].append(t.height)
                out["n_samples"].append(t.n_samples)
                out["duration_ms"].append(t.duration_ms)
                out["total_bytes"].append(sum(t.sample_sizes))
                out["max_frame_bytes"].append(max(t.sample_sizes))
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(
        run,
        "doc_id bigint, codec string, width int, height int, n_samples bigint, "
        "duration_ms bigint, total_bytes bigint, max_frame_bytes bigint",
    )


@query(
    "multimodal_image_neardup_pairs",
    oracle="""
    WITH cells AS (
      SELECT d.doc_id, y.y, x.x,
             CASE WHEN (x.x * 8 + y.y) % 11 = d.doc_id % 11
                  THEN (d.doc_id * 91) % 251
                  ELSE ((d.doc_id % 8) * 37 + x.x * 101 + y.y * 59) % 251
             END AS v
      FROM (SELECT doc_id FROM documents WHERE doc_id < 64) d,
           generate_series(0, 7) y(y), generate_series(0, 8) x(x)
    ), bits AS (
      SELECT c1.doc_id, c1.y, c1.x,
             CASE WHEN c1.v < c2.v THEN 1 ELSE 0 END AS bit
      FROM cells c1 JOIN cells c2
        ON c1.doc_id = c2.doc_id AND c1.y = c2.y AND c2.x = c1.x + 1
      WHERE c1.x < 8
    ), bands AS (
      SELECT doc_id, y // 2 AS band,
             SUM(bit * (1 << ((y % 2) * 8 + x))) AS val
      FROM bits GROUP BY doc_id, y // 2
    ), h AS (
      SELECT doc_id,
             MAX(CASE WHEN band = 0 THEN val END) AS b0,
             MAX(CASE WHEN band = 1 THEN val END) AS b1,
             MAX(CASE WHEN band = 2 THEN val END) AS b2,
             MAX(CASE WHEN band = 3 THEN val END) AS b3
      FROM bands GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
             AS INTEGER) AS hamming
    FROM h a JOIN h b
      ON a.doc_id < b.doc_id
     AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 6
    """,
    tags=("llm", "multimodal", "dedup", "bench"),
)
def multimodal_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dedup END TO END (llm/image_dedup.py): each
    document gets a deterministic 9×8 grayscale image (8 base patterns
    with per-doc pixel perturbations, so planted near-duplicates exist at
    small Hamming distance), encoded to REAL PNG bytes, decoded back,
    dHashed into four 16-bit bands, and paired via the pigeonhole bucket
    join (any shared band) with the exact Hamming filter running
    JVM-side (bit_count(xor)). The oracle replicates the dHash bit
    arithmetic and the same band-share candidate rule in SQL — so codec,
    hash packing, banding and Hamming all must agree. Scale: decode+hash
    is one Arrow map pass; the only shuffle is the 16-bit band-key join —
    never an all-pairs product."""
    import pandas as pd

    from hdp2_5_hive2_spark.llm.image_dedup import dhash_near_dup_pairs, image_dhash

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 64)

    def make_png(batches):
        import numpy as np

        from hdp2_5_hive2_spark.llm.media_codecs import png_encode

        for pdf in batches:
            ids, payloads = [], []
            for k in pdf["doc_id"]:
                k = int(k)
                y = np.arange(8)[:, None]
                x = np.arange(9)[None, :]
                base = ((k % 8) * 37 + x * 101 + y * 59) % 251
                v = np.where(
                    (x * 8 + y) % 11 == k % 11, (k * 91) % 251, base
                ).astype(np.uint8)
                ids.append(k)
                payloads.append(png_encode(v))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    imgs = d.select("doc_id").mapInPandas(make_png, "doc_id long, payload binary")
    hashes = image_dhash(imgs, "doc_id", "payload")
    return (
        dhash_near_dup_pairs(hashes, "doc_id", max_hamming=6)
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col("hamming").alias("hamming"),
        )
    )


@query(
    "multimodal_audio_activity_segments",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 64 + doc_id % 32 AS n FROM documents WHERE doc_id < 48
    ), s AS (
      SELECT d.doc_id, t.t, t.t // 16 AS w,
             (d.doc_id * 13 + t.t * t.t * 53 + t.t * 97) % 2001 - 1000 AS v
      FROM docs d, generate_series(0, 95) t(t)
      WHERE t.t < (d.n // 16) * 16
    ), wins AS (
      SELECT doc_id, w, SUM(v * v) AS energy
      FROM s GROUP BY doc_id, w
    ), act AS (
      SELECT doc_id, w, energy,
             w - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w) AS grp
      FROM wins WHERE energy > 5400000
    )
    SELECT doc_id,
           CAST(MIN(w) AS INTEGER) AS seg_start_win,
           CAST(MAX(w) AS INTEGER) AS seg_end_win,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(energy) AS BIGINT) AS energy_sum
    FROM act GROUP BY doc_id, grp
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_audio_activity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio activity (VAD-style) segmentation over REAL WAV payloads:
    a deterministic PCM-16 signal per document (sample(t) = (doc_id*13 +
    t²*53 + t*97) mod 2001 − 1000) goes through an actual RIFF/WAVE
    encode→decode cycle, per-16-sample-window energies (Σ s²) are emitted
    from the Arrow pass, then windows above the energy threshold merge
    into maximal contiguous segments with the gaps-and-islands idiom
    (win − row_number per doc) — segmentation is DataFrame ops, NOT
    Python, so at 100 TB the only shuffle is the per-doc window partition
    and the codec pass stays map-side. Exact integer energies must match
    the oracle's direct arithmetic through the same island construction."""
    import pandas as pd

    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 48)

    def run(batches):
        import numpy as np

        from hdp2_5_hive2_spark.llm.media_codecs import wav_decode, wav_encode

        for pdf in batches:
            out = {"doc_id": [], "w": [], "energy": []}
            for k in pdf["doc_id"]:
                k = int(k)
                n = 64 + k % 32
                t = np.arange(n)
                s = ((k * 13 + t * t * 53 + t * 97) % 2001 - 1000).astype(np.int16)
                back, _ = wav_decode(wav_encode(s, 16000))
                e = back.astype(np.int64) ** 2
                for w in range(n // 16):
                    out["doc_id"].append(k)
                    out["w"].append(w)
                    out["energy"].append(int(e[16 * w : 16 * w + 16].sum()))
            yield pd.DataFrame(out)

    wins = d.select("doc_id").mapInPandas(run, "doc_id bigint, w int, energy bigint")
    act = wins.filter(F.col("energy") > 5_400_000).withColumn(
        "grp",
        F.col("w")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("w")),
    )
    return act.groupBy("doc_id", "grp").agg(
        F.min("w").cast("int").alias("seg_start_win"),
        F.max("w").cast("int").alias("seg_end_win"),
        F.count("*").alias("n_windows"),
        F.sum("energy").alias("energy_sum"),
    ).drop("grp")


@query(
    "multimodal_video_scene_cuts",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 5 + doc_id % 4 AS n, 2 + doc_id % 3 AS cut
      FROM documents WHERE doc_id < 32
    ), px AS (
      SELECT d.doc_id, f.f, y.y, x.x,
             (d.doc_id * 29
              + CASE WHEN f.f < d.cut THEN 0 ELSE 71 END
              + x.x * 13 + y.y * 7) % 200 + (f.f * 3) % 5 AS v
      FROM docs d, generate_series(0, 7) f(f),
           generate_series(0, 5) y(y), generate_series(0, 7) x(x)
      WHERE f.f < d.n
    ), diffs AS (
      SELECT a.doc_id, a.f AS frame_idx, SUM(ABS(a.v - b.v)) AS diff_energy
      FROM px a JOIN px b
        ON a.doc_id = b.doc_id AND b.f = a.f - 1 AND a.y = b.y AND a.x = b.x
      GROUP BY a.doc_id, a.f
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(frame_idx * 40 AS BIGINT) AS ts_ms,
           CAST(diff_energy AS BIGINT) AS diff_energy,
           diff_energy > 500 AS is_cut
    FROM diffs
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over REAL AVI payloads: each document gets a
    deterministic two-scene DIB video (scene switches at frame 2+doc_id%3
    with small within-scene jitter), muxed to actual RIFF/AVI bytes and
    decoded back; successive-frame absolute-difference energy is computed
    per frame inside the Arrow pass (frames of one asset are already
    co-located — no shuffle carries pixels) and thresholded into cut
    flags. Exact integer energies and timestamps must match the oracle's
    direct arithmetic. The 100 TB shape: per-asset temporal work rides
    the same map-side seam as frame sampling; only (asset, frame,
    energy) rows ever shuffle."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 32)

    def run(batches):
        import numpy as np

        from hdp2_5_hive2_spark.llm.avi import avi_decode_frames, avi_encode_dib

        cols = ("doc_id", "frame_idx", "ts_ms", "diff_energy", "is_cut")
        for pdf in batches:
            out = {c: [] for c in cols}
            for k in pdf["doc_id"]:
                k = int(k)
                n, cut = 5 + k % 4, 2 + k % 3
                y = np.arange(6)[:, None]
                x = np.arange(8)[None, :]
                frames = [
                    (
                        (k * 29 + (0 if f < cut else 71) + x * 13 + y * 7) % 200
                        + (f * 3) % 5
                    ).astype(np.uint8)
                    for f in range(n)
                ]
                decoded = avi_decode_frames(avi_encode_dib(frames, rate=1000, scale=40))
                prev = None
                for f, (ts, px) in enumerate(decoded):
                    cur = px[:, :, 0].astype(np.int64)
                    if prev is not None:
                        e = int(np.abs(cur - prev).sum())
                        out["doc_id"].append(k)
                        out["frame_idx"].append(f)
                        out["ts_ms"].append(ts)
                        out["diff_energy"].append(e)
                        out["is_cut"].append(e > 500)
                    prev = cur
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(
        run,
        "doc_id bigint, frame_idx int, ts_ms bigint, diff_energy bigint, "
        "is_cut boolean",
    )


@query(
    "multimodal_audio_container_audit",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             8 + doc_id % 7 AS n,
             CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS rate,
             CASE doc_id % 4 WHEN 0 THEN 96 WHEN 1 THEN 112 WHEN 2 THEN 128 ELSE 160 END AS kbps,
             CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS ch
      FROM documents WHERE doc_id < 60
    )
    SELECT doc_id,
           'mp3' AS codec,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(ch AS INTEGER) AS channels,
           CAST(n AS BIGINT) AS n_frames,
           CAST(n * 1152 * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(kbps AS INTEGER) AS bitrate_kbps,
           FALSE AS vbr
    FROM docs
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_audio_container_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-bitstream triage through the from-spec MP3 frame-header walk
    (llm/audio_containers.py): each document gets a deterministic CBR
    MPEG-1 Layer III stream (rate/bitrate/channel mode/frame count keyed
    by doc_id, alternating padding bits, spec frame-length arithmetic)
    BUILT from the public header layout and AUDITED back by walking every
    frame header — rate/channel tables, padding-aware frame lengths,
    exact frame counts and durations must equal the oracle's direct
    arithmetic. The 100 TB shape: the walk reads 4 bytes per frame and
    seeks payloads, so auditing a petabyte of crawled speech reads
    gigabytes; map-side only, payloads never shuffle."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 60)

    def run(batches):
        import struct as _s

        from hdp2_5_hive2_spark.llm.audio_containers import mp3_audit

        br_idx = {96: 7, 112: 8, 128: 9, 160: 10}
        sr_idx = {44100: 0, 48000: 1, 32000: 2}
        cols = ("doc_id", "codec", "sample_rate", "channels",
                "n_frames", "duration_ms", "bitrate_kbps", "vbr")
        for pdf in batches:
            out = {c: [] for c in cols}
            for k in pdf["doc_id"]:
                k = int(k)
                n = 8 + k % 7
                rate = [44100, 48000, 32000][k % 3]
                kbps = [96, 112, 128, 160][k % 4]
                mode = 3 if k % 2 else 0
                blob = b""
                for i in range(n):
                    pad = i % 2
                    h = (
                        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
                        | (br_idx[kbps] << 12) | (sr_idx[rate] << 10)
                        | (pad << 9) | (mode << 6)
                    )
                    flen = 1152 // 8 * kbps * 1000 // rate + pad
                    blob += _s.pack(">I", h) + b"\x00" * (flen - 4)
                a = mp3_audit(blob)
                out["doc_id"].append(k)
                out["codec"].append(a.codec)
                out["sample_rate"].append(a.sample_rate)
                out["channels"].append(a.channels)
                out["n_frames"].append(a.n_frames)
                out["duration_ms"].append(a.duration_ms)
                out["bitrate_kbps"].append(a.bitrate_kbps)
                out["vbr"].append(a.vbr)
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(
        run,
        "doc_id bigint, codec string, sample_rate int, channels int, "
        "n_frames bigint, duration_ms bigint, bitrate_kbps int, vbr boolean",
    )


@query(
    "llm_warc_html_extract",
    oracle="""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 80
    )
    SELECT doc_id,
           CAST(200 AS INTEGER) AS status,
           sha256('doc ' || CAST(doc_id AS VARCHAR)
                  || CASE WHEN t = '' THEN '' ELSE chr(10) || t END) AS sha,
           CAST(octet_length(CAST(t AS BLOB)) AS BIGINT) AS n_chars
    FROM docs
    """,
    tags=("llm", "warc", "multimodal"),
)
def llm_warc_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC → HTTP → HTML → text, END TO END (llm/warc.py): each
    document's text is entity-escaped into a deterministic HTML page
    (with script/style boilerplate that must be dropped), wrapped in a
    spec-shaped WARC response record, and pushed through the full
    ingestion chain — record grammar parse, HTTP status/header/body
    split, stdlib-parser text extraction with entity decoding and
    whitespace collapse. The sha256 of the extracted text must equal the
    oracle's direct reconstruction from the raw text, so any drift in
    the record framing, HTTP split, tag handling or collapse semantics
    breaks the hash. Map-side only — the archive bytes exist solely
    inside the Arrow pass; at corpus scale this is exactly the
    crawl-ingestion path (read_warc + warc_text_extract) that feeds the
    curation pipeline."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 80)

    def run(batches):
        import hashlib
        import html as _html

        from hdp2_5_hive2_spark.llm.warc import (
            build_warc,
            html_to_text,
            http_response_payload,
            parse_warc,
            split_http_response,
        )

        cols = ("doc_id", "status", "sha", "n_chars")
        for pdf in batches:
            out = {c: [] for c in cols}
            for k, text in zip(pdf["doc_id"], pdf["text"]):
                k = int(k)
                page = (
                    f"<html><head><title>doc {k}</title>"
                    "<script>window.junk=1;</script>"
                    "<style>p{margin:0}</style></head>"
                    f"<body><p>{_html.escape(text)}</p></body></html>"
                ).encode()
                archive = build_warc([
                    {
                        "warc_type": "response",
                        "target_uri": f"http://corpus.test/{k}",
                        "payload": http_response_payload(page),
                        "content_type": "application/http;msgtype=response",
                    }
                ])
                (rec,) = parse_warc(archive)
                status, _hdrs, body = split_http_response(rec.payload)
                extracted = html_to_text(body.decode("utf-8"))
                collapsed = extracted.split("\n", 1)
                out["doc_id"].append(k)
                out["status"].append(status)
                out["sha"].append(hashlib.sha256(extracted.encode()).hexdigest())
                out["n_chars"].append(
                    len(collapsed[1].encode()) if len(collapsed) > 1 else 0
                )
            yield pd.DataFrame(out)

    return d.select("doc_id", "text").mapInPandas(
        run, "doc_id bigint, status int, sha string, n_chars bigint"
    )


@query(
    "multimodal_flac_decode_stats",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 256 + doc_id % 128 AS n FROM documents WHERE doc_id < 40
    ), s AS (
      SELECT d.doc_id, d.n, (d.doc_id * 17 + t.t * t.t * 11 + t.t * 131) % 4001 - 2000 AS v
      FROM docs d, generate_series(0, 383) t(t)
      WHERE t.t < d.n
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(16000 AS INTEGER) AS rate,
           CAST(SUM(v) AS BIGINT) AS sum_s,
           CAST(MIN(v) AS BIGINT) AS min_s,
           CAST(MAX(v) AS BIGINT) AS max_s
    FROM s GROUP BY doc_id
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_flac_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-audio decode through the from-spec FLAC codec
    (llm/flac.py): a deterministic PCM-16 signal per document
    (sample(t) = (doc_id*17 + t²*11 + t*131) mod 4001 − 2000) is encoded
    to actual FLAC frames (FIXED predictors, Rice residuals, CRC-8/16,
    STREAMINFO MD5) and decoded back — the decoder re-verifies the
    encoder-written MD5 over the decoded samples, so the exact-int stats
    here are doubly checked (checksum + oracle arithmetic). FLAC is how
    speech corpora actually ship; this is the audio sibling of the JPEG
    decode path. Map-side Arrow pass; payloads never shuffle."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 40)

    def run(batches):
        import numpy as np

        from hdp2_5_hive2_spark.llm.flac import flac_decode, flac_encode

        cols = ("doc_id", "n_samples", "rate", "sum_s", "min_s", "max_s")
        for pdf in batches:
            out = {c: [] for c in cols}
            for k in pdf["doc_id"]:
                k = int(k)
                n = 256 + k % 128
                t = np.arange(n)
                s = ((k * 17 + t * t * 11 + t * 131) % 4001 - 2000).astype(np.int16)
                back, rate = flac_decode(
                    flac_encode(s, rate=16000, fixed_order=2, blocksize=192)
                )
                back = back.astype(np.int64)
                out["doc_id"].append(k)
                out["n_samples"].append(back.size)
                out["rate"].append(rate)
                out["sum_s"].append(int(back.sum()))
                out["min_s"].append(int(back.min()))
                out["max_s"].append(int(back.max()))
            yield pd.DataFrame(out)

    return d.select("doc_id").mapInPandas(
        run,
        "doc_id bigint, n_samples bigint, rate int, sum_s bigint, "
        "min_s bigint, max_s bigint",
    )


@query(
    "llm_document_text_extract",
    oracle="""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 90
    )
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'docx' WHEN 1 THEN 'epub' ELSE 'pdf' END
             AS format,
           sha256(t) AS sha,
           CAST(octet_length(CAST(t AS BLOB)) AS BIGINT) AS n_chars
    FROM docs
    """,
    tags=("llm", "multimodal", "documents"),
)
def llm_document_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-format extraction END TO END (llm/documents.py): each
    document's text is packaged into a real DOCX (OOXML zip), EPUB
    (OPF-manifested XHTML zip) or PDF (Flate content stream with
    text-showing operators) by doc_id mod 3, then recovered through the
    magic-byte dispatch + per-format extractors — so the ZIP/XML paths,
    the HTML chapter path and the PDF operator parser all get
    hash-checked against a direct reconstruction of the collapsed text.
    Map-side Arrow pass; document payloads never shuffle — the office/
    ebook/PDF side of the crawl-ingestion story (WARC covers the web
    side)."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 90)

    def run(batches):
        import hashlib

        from hdp2_5_hive2_spark.llm.documents import (
            build_docx,
            build_epub,
            build_pdf,
            extract_document_text,  # noqa: F401  (dispatch tested via kinds)
            docx_text,
            epub_text,
            pdf_text,
            sniff_document,
        )

        builders = [build_docx, build_epub, build_pdf]
        extractors = {"docx": docx_text, "epub": epub_text, "pdf": pdf_text}
        cols = ("doc_id", "format", "sha", "n_chars")
        for pdf_ in batches:
            out = {c: [] for c in cols}
            for k, text in zip(pdf_["doc_id"], pdf_["text"]):
                k = int(k)
                payload = builders[k % 3]([text])
                kind = sniff_document(payload)
                extracted = extractors[kind](payload)
                out["doc_id"].append(k)
                out["format"].append(kind)
                out["sha"].append(hashlib.sha256(extracted.encode()).hexdigest())
                out["n_chars"].append(len(extracted.encode()))
            yield pd.DataFrame(out)

    return d.select("doc_id", "text").mapInPandas(
        run, "doc_id bigint, format string, sha string, n_chars bigint"
    )


@query(
    "llm_tfrecord_roundtrip",
    oracle="""
    SELECT doc_id,
           sha256(text) AS text_sha,
           CAST(doc_id AS BIGINT) AS id_back,
           CAST(doc_id AS DOUBLE) / 4 AS w_back,
           CAST(3 AS INTEGER) AS n_features
    FROM documents WHERE doc_id < 70
    """,
    tags=("llm", "multimodal", "formats"),
)
def llm_tfrecord_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord + tf.train.Example END TO END (llm/tfrecord.py): each
    document becomes an Example (bytes text, packed-int64 id, packed-
    float32 weight), framed with the u64-length + masked-CRC-32C record
    layout, then read back with BOTH checksums verified and the protobuf
    wire format decoded — text hash, int64 identity and the exactly-
    representable float (doc_id/4) must survive the full cycle against
    direct SQL. The CRC-32C kernel itself is pinned to the RFC 3720
    public test vectors in tests/test_tfrecord.py, so the framing is
    checked against ground truth we didn't write. Map-side Arrow pass."""
    import pandas as pd

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 70)

    def run(batches):
        import hashlib

        from hdp2_5_hive2_spark.llm.tfrecord import tfrecord_read, tfrecord_write

        cols = ("doc_id", "text_sha", "id_back", "w_back", "n_features")
        for pdf_ in batches:
            out = {c: [] for c in cols}
            for k, text in zip(pdf_["doc_id"], pdf_["text"]):
                k = int(k)
                blob = tfrecord_write(
                    [{"text": [text.encode()], "id": [k], "w": [k / 4.0]}]
                )
                (ex,) = tfrecord_read(blob)
                out["doc_id"].append(k)
                out["text_sha"].append(
                    hashlib.sha256(ex["text"][0]).hexdigest()
                )
                out["id_back"].append(ex["id"][0])
                out["w_back"].append(float(ex["w"][0]))
                out["n_features"].append(len(ex))
            yield pd.DataFrame(out)

    return d.select("doc_id", "text").mapInPandas(
        run,
        "doc_id bigint, text_sha string, id_back bigint, w_back double, "
        "n_features int",
    )


@query(
    "multimodal_subtitle_alignment",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 3 + doc_id % 3 AS n, 2 + doc_id % 2 AS m,
             (doc_id % 5) * 100 AS jit
      FROM documents WHERE doc_id < 40
    ), cues AS (
      SELECT d.doc_id, i.i AS cue_idx,
             i.i * 2000 + d.jit AS start_ms,
             i.i * 2000 + d.jit + 1200 AS end_ms
      FROM docs d, generate_series(0, 5) i(i) WHERE i.i < d.n
    ), segs AS (
      SELECT d.doc_id, j.j * 1500 AS s, j.j * 1500 + 1000 AS e
      FROM docs d, generate_series(0, 3) j(j) WHERE j.j < d.m
    )
    SELECT c.doc_id,
           CAST(c.cue_idx AS INTEGER) AS cue_idx,
           CAST(g.s AS BIGINT) AS seg_start_ms,
           CAST(LEAST(c.end_ms, g.e) - GREATEST(c.start_ms, g.s) AS BIGINT)
             AS overlap_ms
    FROM cues c JOIN segs g
      ON c.doc_id = g.doc_id AND c.start_ms < g.e AND g.s < c.end_ms
    """,
    tags=("llm", "multimodal", "media"),
)
def multimodal_subtitle_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle-to-audio alignment END TO END (llm/subtitles.py): each
    document gets a deterministic SubRip transcript (cue count and
    timing jitter keyed by doc_id) built as REAL SRT text, parsed back
    through the grammar (timestamp fields, tag stripping, block
    framing), then overlap-joined against deterministic activity
    segments with `align_cues` — the asset-keyed interval join whose
    only shuffle key is the asset id. Pair rows and exact overlap
    lengths must match the oracle's direct interval arithmetic. This is
    the (audio, transcript) pairing step every speech pipeline runs."""
    import pandas as pd

    from hdp2_5_hive2_spark.llm.subtitles import align_cues, parse_subtitles

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 40)

    def make_cues(batches):
        for pdf_ in batches:
            rows = []
            for k in pdf_["doc_id"]:
                k = int(k)
                n, jit = 3 + k % 3, (k % 5) * 100
                blocks = []
                for i in range(n):
                    a, b = i * 2000 + jit, i * 2000 + jit + 1200
                    def fmt(ms):
                        h, rem = divmod(ms, 3600000)
                        mi, rem = divmod(rem, 60000)
                        s, milli = divmod(rem, 1000)
                        return f"{h:02d}:{mi:02d}:{s:02d},{milli:03d}"
                    blocks.append(
                        f"{i + 1}\n{fmt(a)} --> {fmt(b)}\ncue {i} of {k}\n"
                    )
                srt = "\n".join(blocks)
                for i, (a, b, _t) in enumerate(parse_subtitles(srt.encode())):
                    rows.append((k, i, a, b, _t))
            yield pd.DataFrame(
                rows, columns=["asset_id", "cue_idx", "start_ms", "end_ms", "text"]
            )

    cues = d.select("doc_id").mapInPandas(
        make_cues,
        "asset_id long, cue_idx int, start_ms long, end_ms long, text string",
    )
    segs = (
        d.select("doc_id")
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(1) + F.col("doc_id") % 2)))
        .select(
            F.col("doc_id").alias("asset_id"),
            (F.col("j") * 1500).alias("seg_start_ms"),
            (F.col("j") * 1500 + 1000).alias("seg_end_ms"),
        )
    )
    return align_cues(cues, segs, asset_col="asset_id").select(
        F.col("asset_id").alias("doc_id"),
        "cue_idx",
        F.col("seg_start_ms").cast("long").alias("seg_start_ms"),
        F.col("overlap_ms").cast("long").alias("overlap_ms"),
    )


@query(
    "llm_bpe_apply_count",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents WHERE doc_id < 150
    ), enc AS (
      SELECT doc_id,
             replace(replace(replace(replace(
               w, 'th', chr(57344)), 'he', chr(57345)),
               'an', chr(57346)), 'in', chr(57347)) AS e
      FROM words WHERE w <> ''
    )
    SELECT doc_id,
           CAST(SUM(length(e)) AS BIGINT) AS n_bpe_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM enc GROUP BY doc_id
    """,
    tags=("llm", "tokenizer"),
)
def llm_bpe_apply_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting UNDER A BPE MERGE TABLE (llm.retrieval.bpe_apply):
    a fixed four-merge table ('th','he','an','in' → private-use
    placeholders U+E000..E003, the exact convention bpe_train emits) is
    applied to every document via the chained-replace encoder — greedy
    left-to-right non-overlapping, identical semantics in Spark and
    DuckDB, so the oracle replays the same replace chain directly. This
    is the number that prices a document for training (vs the
    whitespace/regex proxies). Plan: explode + codegen'd replace chain +
    one per-doc sum; zero Python."""
    from hdp2_5_hive2_spark.llm.retrieval import bpe_apply

    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 150)
    return bpe_apply(d, ["th", "he", "an", "in"])


@query(
    "multimodal_meta_sha",
    oracle="""
    SELECT doc_id, sha256(text) AS sha, octet_length(CAST(text AS BLOB)) AS n_bytes
    FROM documents WHERE doc_id < 200
    """,
    tags=("llm", "multimodal", "meta"),
)
def multimodal_meta_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata path (llm.multimodal.attach_asset_meta) with the
    document text standing in as the binary payload: the typed metadata
    struct's sha256 checksum and payload size must equal the oracle's
    direct computation."""
    from hdp2_5_hive2_spark.llm import multimodal

    d = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") < 200)
        .withColumn("payload", F.encode("text", "UTF-8"))
    )
    with_meta = multimodal.attach_asset_meta(d, "payload", "text", "text/plain")
    return with_meta.select(
        "doc_id",
        F.col("asset_meta.sha256").alias("sha"),
        F.length("payload").cast("bigint").alias("n_bytes"),
    )


@query(
    "llm_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS INTEGER) AS bpe_tokens
    FROM documents WHERE length(trim(text)) > 0
    """,
    tags=("llm", "text", "tokens"),
)
def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways a training pipeline needs it: whitespace
    tokens (document stats) and BPE-style pre-tokenizer segments (token
    budget). The regex restricts to ASCII classes so Spark's Java regex and
    the oracle's RE2 agree exactly."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.length(F.trim("text")) > 0)
    return d.select(
        "doc_id",
        text.token_count("text").alias("ws_tokens"),
        text.bpe_ish_token_count("text").alias("bpe_tokens"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id, octet_length(CAST(text AS BLOB)) * 50 AS nb
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id AS asset_id,
           CAST(u AS INTEGER) AS frame_idx,
           CAST(u * 1000 AS BIGINT) AS ts_ms
    FROM b, UNNEST(generate_series(0, GREATEST(nb // 10000, 1) - 1)) AS t(u)
    """,
    tags=("llm", "multimodal", "frames"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (llm.multimodal.frame_sample): the
    1→N row explosion over opaque binary payloads, Arrow-batched. Payloads
    are the document text repeated 50× (deterministic size), so the oracle
    can predict exactly how many pseudo-frames (max(1, floor(n_bytes /
    10_000)) in the stub decoder) each asset yields and their timestamps. The decoded feature
    vector is codec-defined and excluded (the real codec seam is stubbed —
    no media libraries in this environment)."""
    from hdp2_5_hive2_spark.llm import multimodal

    d = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") < 100)
        .withColumn("payload", F.encode(F.repeat(F.col("text"), 50), "UTF-8"))
    )
    frames = multimodal.frame_sample(d, "doc_id", "payload", every_ms=1000)
    return frames.select("asset_id", "frame_idx", "ts_ms")


@query(
    "multimodal_resize_meta",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(224 AS INTEGER) AS width,
           CAST(224 AS INTEGER) AS height,
           CAST(784 AS BIGINT)  AS n_bytes
    FROM documents WHERE doc_id < 100
    """,
    tags=("llm", "multimodal", "resize"),
)
def multimodal_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (llm.multimodal.resize_images): payload→payload
    Arrow map with refreshed metadata. The stub resampler always emits
    exactly (width*height)/64 bytes — 784 for 224² — so the oracle pins the
    output geometry and byte size for every asset; the byte content is
    codec-defined and covered by unit tests."""
    from hdp2_5_hive2_spark.llm import multimodal

    d = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") < 100)
        .withColumn("payload", F.encode("text", "UTF-8"))
    )
    resized = multimodal.resize_images(d, "doc_id", "payload", width=224, height=224)
    return resized.select("asset_id", "width", "height", "n_bytes")


@query(
    "llm_pii_redact",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             text
               || repeat(' u' || CAST(doc_id AS VARCHAR) || '@ex'
                         || CAST(doc_id % 7 AS VARCHAR) || '.com',
                         CAST(doc_id % 3 AS INT))
               || repeat(' 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                         CAST(doc_id % 2 AS INT)) AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                AS INTEGER) AS n_emails,
           -- phones counted on the email-redacted intermediate, matching
           -- redact_pii's no-double-count contract
           CAST(len(regexp_extract_all(
                  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                 '<EMAIL>', 'g'),
                  '\\b[0-9]{3}-[0-9]{4}\\b'))
                AS INTEGER) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                                '<EMAIL>', 'g'),
                 '\\b[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g')) AS clean_md5
    FROM planted
    """,
    tags=("llm", "text", "pii"),
)
def llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (llm.text.redact_pii): count + redact emails and phone-shaped
    tokens. The corpus documents carry no PII, so each doc plants a
    deterministic number of both (doc_id % 3 emails, doc_id % 2 phones) and
    the oracle replants identically — counts AND the md5 of the redacted
    text must match. Pure regexp built-ins, map-side, no shuffle."""
    d = load_tables(spark, sf_dir)["documents"]
    planted = d.withColumn(
        "text",
        F.concat(
            "text",
            F.repeat(
                F.concat(F.lit(" u"), F.col("doc_id").cast("string"),
                         F.lit("@ex"), (F.col("doc_id") % 7).cast("string"),
                         F.lit(".com")),
                (F.col("doc_id") % 3).cast("int"),
            ),
            F.repeat(
                F.concat(F.lit(" 555-"),
                         F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
                (F.col("doc_id") % 2).cast("int"),
            ),
        ),
    )
    return text.redact_pii(planted).select(
        "doc_id", "n_emails", "n_phones", F.md5("clean_text").alias("clean_md5")
    )


@query(
    "llm_repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents
    ), b AS (
      SELECT doc_id, toks,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1]) AS bigs
      FROM t
    )
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           (len(toks) - len(list_distinct(toks))) / len(toks) AS dup_token_frac,
           CASE WHEN len(toks) >= 2
                THEN (len(bigs) - len(list_distinct(bigs))) / len(bigs)
                ELSE 0.0 END AS dup_bigram_frac
    FROM b
    """,
    tags=("llm", "text", "quality"),
)
def llm_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (llm.text.repetition_stats):
    duplicate-token and duplicate-bigram fractions per document via
    array_distinct on token/bigram arrays — one exact int/int division each,
    so DuckDB's list_distinct oracle matches bitwise."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.repetition_stats(d).select(
        "doc_id", "n_tokens", "dup_token_frac", "dup_bigram_frac"
    )


# Shared DuckDB CTE: (doc_id, ngram) word n-grams, distinct within document,
# mirroring llm.curation.word_ngram_rows (tokenize on whitespace runs).
def _ngram_cte(m: int) -> str:
    return f"""
    ngd AS (
      SELECT DISTINCT doc_id, ngram FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - {m}),
                                     i -> array_to_string(t[i:i+{m}], ' '))) AS ngram
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents)
      )
    )
    """


@query(
    "llm_decontaminate",
    oracle="WITH " + _ngram_cte(7) + """
    , ev AS (SELECT DISTINCT ngram FROM ngd WHERE doc_id % 29 = 0),
    tr AS (SELECT * FROM ngd WHERE doc_id % 29 <> 0)
    SELECT tr.doc_id AS doc_id, count(*) AS n_hit_ngrams
    FROM tr JOIN ev USING (ngram)
    GROUP BY tr.doc_id
    """,
    tags=("llm", "curation", "decontaminate", "bench"),
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set n-gram decontamination (llm.curation.decontaminate): docs
    with doc_id % 29 == 0 stand in for the benchmark suite; every other
    document reports how many of its distinct word 8-grams appear anywhere
    in that suite. Train-side plan is shuffle-free: Arrow n-gram pass +
    broadcast semi-join; only matched rows aggregate."""
    d = load_tables(spark, sf_dir)["documents"]
    ev = d.where(F.col("doc_id") % 29 == 0)
    tr = d.where(F.col("doc_id") % 29 != 0)
    return curation.decontaminate(tr, ev, n=8)


@query(
    "llm_dedup_clusters",
    oracle="WITH RECURSIVE " + _ngram_cte(15) + """
    , rare AS (SELECT ngram FROM ngd GROUP BY ngram HAVING count(*) <= 100),
    e0 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM ngd a JOIN ngd b USING (ngram) JOIN rare USING (ngram)
           WHERE a.doc_id < b.doc_id),
    e AS (SELECT da AS s, db AS d FROM e0 UNION SELECT db, da FROM e0),
    v AS (SELECT DISTINCT s AS id FROM e),
    walk AS (
      SELECT id, id AS lab FROM v
      UNION
      SELECT e.d AS id, w.lab FROM walk w JOIN e ON e.s = w.id
    )
    SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_rep
    FROM walk GROUP BY id
    """,
    tags=("llm", "curation", "dedup"),
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters (llm.curation.duplicate_clusters):
    edges = document pairs sharing a rare (df<=100) word 16-gram; clusters =
    connected components via min-label propagation (the oracle recomputes
    reachability with a recursive CTE). cluster_rep is the minimum doc_id in
    the component — the canonical keep-one-representative dedup output."""
    d = load_tables(spark, sf_dir)["documents"]
    return curation.duplicate_clusters(d, n=16, max_df=100)


@query(
    "llm_stratified_sample",
    oracle="""
    SELECT doc_id, lang, len_bucket
    FROM (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) // 100 AS len_bucket
      FROM documents
    )
    QUALIFY row_number() OVER (
      PARTITION BY lang, len_bucket
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    ) <= 5
    """,
    tags=("llm", "curation", "sampling"),
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample (llm.curation.stratified_sample):
    top-5 per (lang, 100-token length bucket) ordered by md5(doc_id) — a
    reproducible mixture-capping draw identical across engines, unlike
    rand()-based sampling. row_number()<=k compiles to WindowGroupLimit."""
    d = load_tables(spark, sf_dir)["documents"]
    strat = d.select(
        "doc_id",
        "lang",
        F.floor(F.size(F.split(F.trim(F.col("text")), r"\s+")) / 100).alias("len_bucket"),
    )
    return curation.stratified_sample(strat, ["lang", "len_bucket"], k=5)


@query(
    "llm_corpus_filter",
    oracle="""
    WITH q AS (
      SELECT doc_id, lang,
             (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
              + CASE WHEN stopword_hits > 0 THEN 1 ELSE 0 END
              + CASE WHEN alpha_chars * 2 > n_chars THEN 1 ELSE 0 END) AS quality_score,
             t AS toks, fp
      FROM (
        SELECT doc_id, lang, length(text) AS n_chars,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               len(list_intersect(string_split_regex(trim(text), '\\s+'),
                   ['the','and','of','to','a','in','is','it','you','that'])) AS stopword_hits,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
               string_split_regex(trim(text), '\\s+') AS t,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
      )
    ), lp AS (
      SELECT doc_id,
             CASE WHEN mx = 0 THEN 'und'
                  WHEN h_de = mx THEN 'de'
                  WHEN h_en = mx THEN 'en'
                  WHEN h_es = mx THEN 'es'
                  WHEN h_fr = mx THEN 'fr'
                  ELSE 'zh' END AS lang_pred
      FROM (
        SELECT doc_id,
               len(list_intersect(toks, ['the','and','of','to','a','in','is','it','you','that'])) AS h_en,
               len(list_intersect(toks, ['el','la','de','que','y','en','un','ser','se','no'])) AS h_es,
               len(list_intersect(toks, ['le','la','de','et','un','être','que','pour','dans','ce'])) AS h_fr,
               len(list_intersect(toks, ['der','die','und','in','den','von','zu','das','mit','sich'])) AS h_de,
               len(list_intersect(toks, ['的','一','是','不','了','人','我','在','有','他'])) AS h_zh,
               greatest(
                 len(list_intersect(toks, ['the','and','of','to','a','in','is','it','you','that'])),
                 len(list_intersect(toks, ['el','la','de','que','y','en','un','ser','se','no'])),
                 len(list_intersect(toks, ['le','la','de','et','un','être','que','pour','dans','ce'])),
                 len(list_intersect(toks, ['der','die','und','in','den','von','zu','das','mit','sich'])),
                 len(list_intersect(toks, ['的','一','是','不','了','人','我','在','有','他']))) AS mx
        FROM q
      )
    )
    SELECT q.doc_id AS doc_id, q.quality_score AS quality_score, lp.lang_pred AS lang_pred,
           q.quality_score >= 2 AS quality_keep,
           lp.lang_pred = q.lang AS lang_keep,
           q.doc_id = min(q.doc_id) OVER (PARTITION BY q.fp) AS is_canonical,
           (q.quality_score >= 2 AND lp.lang_pred = q.lang
            AND q.doc_id = min(q.doc_id) OVER (PARTITION BY q.fp)) AS keep
    FROM q JOIN lp USING (doc_id)
    """,
    tags=("llm", "curation", "pipeline"),
)
def llm_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline (llm.curation.corpus_filter): per-document
    quality_keep (C4/Gopher score >= 2), lang_keep (stopword-argmax predicted
    language agrees with the tag), is_canonical (min-id exact-dup
    representative via one 16-byte fingerprint window shuffle) and the final
    keep conjunction — per-stage flags so corpus-loss accounting can
    attribute every dropped document."""
    d = load_tables(spark, sf_dir)["documents"]
    return curation.corpus_filter(d)


@query(
    "llm_embedding_centroids",
    oracle="""
    SELECT label, pos, n_vecs,
           CAST(qsum AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1048576.0) AS centroid
    FROM (
      SELECT label, pos, count(*) AS n_vecs,
             SUM(CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)) AS qsum
      FROM (
        SELECT label,
               unnest(range(len(embedding))) AS pos,
               unnest(embedding) AS v
        FROM embeddings
      )
      GROUP BY label, pos
    )
    """,
    tags=("llm", "similarity", "centroid"),
)
def llm_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (llm.similarity.label_centroids): one
    row per (label, dimension). Component sums are quantized at 2^-20 via an
    EXACT power-of-two double scaling + floor-to-bigint, so the aggregate is
    order-independent and matches DuckDB bit-for-bit — the standard exactness
    trick for float aggregation across engines. posexplode feeds a map-side
    partial hash-agg; the shuffle carries only (label, pos) partials."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return similarity.label_centroids(e)


@query(
    "llm_knn_classify",
    oracle="""
    WITH topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                                 CAST(q.embedding AS DOUBLE[])) DESC,
                          c.vec_id
               ) AS rank
        FROM embeddings c
        CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 20) q
        WHERE c.vec_id >= 20
      ) r WHERE rank <= 15
    ), votes AS (
      SELECT t.query_id, e.label AS nl, count(*) AS votes
      FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
      GROUP BY t.query_id, e.label
    )
    SELECT query_id, nl AS pred_label, votes FROM (
      SELECT query_id, nl, votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, nl ASC) AS r
      FROM votes
    ) WHERE r = 1
    """,
    tags=("llm", "similarity", "knn"),
)
def llm_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote labels for 20 query vectors, k=15
    (llm.similarity.knn_classify): exact cosine top-k via the batched GEMM
    path, vote aggregation over Q×k rows, deterministic tie-break (votes
    desc, label asc). Vote counts are integers, so the driver hash is exact
    even though cosine scores differ in the last ULP."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return similarity.knn_classify(
        corpus=e.filter(F.col("vec_id") >= 20),
        queries=e.filter(F.col("vec_id") < 20),
        k=15,
    )


@query(
    "llm_chunk_documents",
    oracle="""
    SELECT doc_id,
           CAST(s // 80 AS INTEGER) AS chunk_idx,
           CAST(len(t[s+1:s+100]) AS INTEGER) AS n_chunk_tokens,
           array_to_string(t[s+1:s+100], ' ') AS chunk_text
    FROM (
      SELECT doc_id, t, unnest(range(0, greatest(len(t) - 1, 0) + 1, 80)) AS s
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    )
    """,
    tags=("llm", "chunking"),
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token chunking with overlap (llm.text.chunk_documents, 100-token
    chunks, 20 overlap → stride 80): one row per chunk, RAG/context-window
    prep. Pure JVM (tokenize once, explode chunk starts, slice+rejoin) —
    zero shuffle, zero Python."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.chunk_documents(d, chunk_tokens=100, overlap=20)


@query(
    "llm_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
      FROM t
    )
    SELECT doc_id, n_tokens,
           cum - n_tokens AS start_offset,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id,
           CAST((cum - 1) // 2048 AS BIGINT) AS bin_end_id,
           (cum - 1) // 2048 > (cum - n_tokens) // 2048 AS spans_boundary
    FROM c
    """,
    tags=("llm", "packing"),
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing into 2048-token training sequences
    (llm.text.pack_sequences): global token offsets via the two-phase
    distributed prefix sum (256 md5-prefix buckets cumsum in parallel +
    broadcast bucket bases — no single-partition global window). The oracle
    recomputes the same offsets with a plain global window over the
    identical (md5, id) order."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.pack_sequences(d, seq_len=2048)


@query(
    "llm_normalize_text",
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS norm_md5,
           md5(regexp_replace(trim(regexp_replace(lower(text), '[!-/:-@\\[-`{-~]', ' ', 'g')),
                              '\\s+', ' ', 'g')) AS norm_nopunct_md5,
           length(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS n_norm_chars
    FROM documents
    """,
    tags=("llm", "text", "normalize"),
)
def llm_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-grade normalization (llm.text.normalize_text): md5 of the
    casefolded/whitespace-collapsed form and of the punctuation-stripped
    form, plus normalized length — the canonicalization step upstream of
    fingerprint/MinHash. ASCII-explicit char classes keep Java and the
    oracle's regex engine byte-identical."""
    d = load_tables(spark, sf_dir)["documents"]
    return d.select(
        "doc_id",
        F.md5(text.normalize_text("text")).alias("norm_md5"),
        F.md5(text.normalize_text("text", strip_punct=True)).alias("norm_nopunct_md5"),
        F.length(text.normalize_text("text")).alias("n_norm_chars"),
    )


@query(
    "llm_url_host_stats",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             text || ' see http://site' || CAST(doc_id % 7 AS VARCHAR)
                  || '.example.com/p/' || CAST(doc_id AS VARCHAR) || ' end' AS text
      FROM documents
    )
    SELECT regexp_extract(regexp_extract(text, 'https?://[^ ]+'),
                          'https?://([^/]+)', 1) AS host,
           count(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM planted
    GROUP BY 1
    """,
    tags=("llm", "text", "url"),
)
def llm_url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document stats over planted URLs: extract the first URL
    (regexp), take its host via Hive's parse_url (FunctionRegistry.java:262
    GenericUDFParseUrl), aggregate — the URL/domain accounting step of a
    crawl-curation pipeline (domain blocklists, per-host caps). The oracle
    mirrors host extraction with a pure regexp since DuckDB lacks
    parse_url."""
    d = load_tables(spark, sf_dir)["documents"]
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see http://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" end"),
        ).alias("text"),
    )
    url = F.regexp_extract(F.col("text"), r"https?://[^ ]+", 0)
    return (
        planted.select("doc_id", F.parse_url(url, F.lit("HOST")).alias("host"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


@query(
    "llm_split_assign",
    oracle="""
    SELECT split, count(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM (
      SELECT doc_id,
             CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
      FROM (
        SELECT doc_id,
               CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        FROM documents
      )
    )
    GROUP BY split
    """,
    tags=("llm", "curation", "split"),
)
def llm_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (90/5/5): bucket =
    first 8 md5 hex digits of the id mod 100 — stable across runs, engines
    and partitionings, the standard leakage-safe split assignment. Counts +
    id checksums per split."""
    d = load_tables(spark, sf_dir)["documents"]
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    return (
        d.select(
            "doc_id",
            F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split"),
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("id_checksum"))
    )


@query(
    "llm_mixture_rates",
    oracle="""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM counts),
    tgt AS (SELECT source, CAST(target_share AS DOUBLE) AS target_share
            FROM (VALUES ('src0', 0.02), ('src1', 0.04), ('src2', 0.10))
            AS t(source, target_share))
    SELECT c.source AS source, c.n_docs AS n_docs,
           CAST(c.n_docs AS DOUBLE) / t.total AS actual_share,
           coalesce(g.target_share, 0.0) AS target_share,
           least(coalesce(g.target_share, 0.0) / (CAST(c.n_docs AS DOUBLE) / t.total), 1.0)
             AS sample_rate
    FROM counts c CROSS JOIN tot t LEFT JOIN tgt g ON c.source = g.source
    """,
    tags=("llm", "curation", "mixing"),
)
def llm_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing sampling rates: per source, the down-sampling rate that
    would hit a target mixture (rate = target_share / actual_share, capped
    at 1) — the budget arithmetic of a training-mix builder. Every double
    comes from exactly-rounded IEEE divisions over exact integer counts, so
    both engines agree bit-for-bit."""
    d = load_tables(spark, sf_dir)["documents"]
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("total"))
    tgt = d.sparkSession.createDataFrame(
        [("src0", 0.02), ("src1", 0.04), ("src2", 0.10)],
        "source string, target_share double",
    )
    j = counts.crossJoin(F.broadcast(total)).join(F.broadcast(tgt), "source", "left")
    share = F.col("n_docs").cast("double") / F.col("total")
    t_share = F.coalesce(F.col("target_share"), F.lit(0.0))
    return j.select(
        "source",
        "n_docs",
        share.alias("actual_share"),
        t_share.alias("target_share"),
        F.least(t_share / share, F.lit(1.0)).alias("sample_rate"),
    )


@query(
    "llm_minhash_clusters",
    oracle="WITH RECURSIVE " + _SHINGLES_CTE.replace("WITH s AS", "s AS").strip().rstrip() + """
    , p AS (
      SELECT a.doc_id AS da, b.doc_id AS db
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    ),
    e AS (SELECT da AS s, db AS d FROM p UNION SELECT db, da FROM p),
    v AS (SELECT DISTINCT s AS id FROM e),
    walk AS (
      SELECT id, id AS lab FROM v
      UNION
      SELECT e.d AS id, w.lab FROM walk w JOIN e ON e.s = w.id
    )
    SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_rep
    FROM walk GROUP BY id
    """,
    tags=("llm", "dedup", "minhash", "cluster"),
)
def llm_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production near-dedup pipeline end-to-end: MinHash+LSH candidate
    pairs (exact-Jaccard-verified at >= 0.8) fed into connected components —
    every document in a near-dup component labeled with its minimum-id
    representative. Composes dedup.minhash_lsh_pairs (32 hashes, 16 bands —
    band-miss ~3e-12 at j=0.9) with curation.connected_components; the
    oracle recomputes the exhaustive O(n²) pair set and recursive-CTE
    reachability, so the composition must agree transitively, not just
    pairwise."""
    from hdp2_5_hive2_spark.llm import curation as cur

    d = load_tables(spark, sf_dir)["documents"]
    pairs = dedup.minhash_lsh_pairs(d, num_hashes=32, bands=16, threshold=0.8)
    return cur.connected_components(pairs, a_col="id_a", b_col="id_b").withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "multimodal_payload_dedup",
    oracle="""
    WITH assets AS (
      SELECT doc_id, sha256(text) AS sha FROM documents
      UNION ALL
      SELECT doc_id + 1000000, sha256(text)
      FROM documents WHERE doc_id % 9 = 0
    )
    SELECT sha, count(*) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS canonical_id
    FROM assets GROUP BY sha
    """,
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact binary-asset dedup (llm.multimodal.dedup_assets): sha256 of the
    payload computed map-side (payloads never shuffle), planted clones
    (doc_id ≡ 0 mod 9 duplicated at +1000000) must collapse onto their
    canonical minimum id with n_copies = 2."""
    from hdp2_5_hive2_spark.llm import multimodal

    d = load_tables(spark, sf_dir)["documents"]
    assets = d.select("doc_id", F.encode("text", "UTF-8").alias("payload")).unionAll(
        d.filter(F.col("doc_id") % 9 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )
    return multimodal.dedup_assets(assets)


@query(
    "llm_cross_source_dups",
    oracle="""
    WITH f AS (
      SELECT source, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
      UNION ALL
      SELECT 'mirror' AS source, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
    FROM (SELECT DISTINCT source, fp FROM f) a
    JOIN (SELECT DISTINCT source, fp FROM f) b
      ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    tags=("llm", "dedup", "provenance"),
)
def llm_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — which sources carry the same
    documents (the provenance question behind dedup-before-mixing): distinct
    (source, fingerprint) pairs self-joined on the fingerprint, counted per
    source pair. A planted 'mirror' source (every doc_id ≡ 0 mod 11) must
    show up against its originals. Text reduces to md5 map-side; the join
    keys on 16-byte fingerprints only."""
    d = load_tables(spark, sf_dir)["documents"]
    fp = F.md5(text.normalize_text("text"))
    f = d.select("source", fp.alias("fp")).unionAll(
        d.filter(F.col("doc_id") % 11 == 0).select(
            F.lit("mirror").alias("source"), fp.alias("fp")
        )
    )
    sf = f.distinct()
    a = sf.select(F.col("source").alias("source_a"), "fp")
    b = sf.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@query(
    "llm_contamination_by_source",
    oracle="""
    WITH t AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ), ng AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 7),
               i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]
                    ||' '||t[i+5]||' '||t[i+6]||' '||t[i+7]))) AS ngram
      FROM t WHERE len(t) >= 8
    ), ev AS (
      SELECT DISTINCT ngram FROM ng WHERE doc_id % 13 = 0
    ), hits AS (
      SELECT DISTINCT g.doc_id, g.source
      FROM ng g JOIN ev USING (ngram) WHERE g.doc_id % 13 <> 0
    ), totals AS (
      SELECT source, count(*) AS n_docs FROM documents WHERE doc_id % 13 <> 0
      GROUP BY source
    )
    SELECT t.source AS source, t.n_docs AS n_docs,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           CAST(coalesce(h.n_hit, 0) AS DOUBLE) / t.n_docs AS contamination_rate
    FROM totals t
    LEFT JOIN (SELECT source, count(*) AS n_hit FROM hits GROUP BY source) h
      ON t.source = h.source
    """,
    tags=("llm", "curation", "decontamination"),
)
def llm_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contamination accounting: which sources carry eval-set
    8-gram overlap (eval = every doc_id ≡ 0 mod 13), as counts and rates —
    the provenance breakdown a pipeline owner uses to drop or re-crawl a
    source. Composes curation.decontaminate (broadcast eval n-grams, train
    text never shuffles) with a per-source rollup."""
    d = load_tables(spark, sf_dir)["documents"]
    ev_df = d.filter(F.col("doc_id") % 13 == 0)
    train = d.filter(F.col("doc_id") % 13 != 0)
    hits = curation.decontaminate(train, ev_df, n=8).select("doc_id")
    totals = train.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    hit_src = (
        hits.join(train.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        totals.join(F.broadcast(hit_src), "source", "left")
        .select(
            "source", "n_docs",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_contaminated"),
            (F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("n_docs")).alias(
                "contamination_rate"
            ),
        )
    )


@query(
    "llm_token_length_histogram",
    oracle="""
    SELECT length(bin(len(string_split_regex(trim(text), '\\s+')))) AS bucket,
           count(*) AS n_docs,
           CAST(MIN(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS min_tok,
           CAST(MAX(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS max_tok
    FROM documents WHERE length(trim(text)) > 0
    GROUP BY bucket
    """,
    tags=("llm", "text", "histogram"),
)
def llm_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram — the doc-length distribution a
    packing/truncation policy reads. Bucket = number of binary digits of the
    token count (⌊log2 n⌋+1) computed by STRING LENGTH OF THE BINARY
    REPRESENTATION — pure integer/string ops, no transcendental log that
    could differ across engines."""
    from hdp2_5_hive2_spark.llm.text import token_count

    d = load_tables(spark, sf_dir)["documents"].filter(F.length(F.trim("text")) > 0)
    n = token_count("text")
    bucket = F.length(F.conv(n.cast("string"), 10, 2))
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(n).cast("bigint").alias("min_tok"),
        F.max(n).cast("bigint").alias("max_tok"),
    )


@query(
    "llm_dedup_keep_best",
    oracle="""
    WITH f AS (
      SELECT doc_id, n_chars,
             md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    ), r AS (
      SELECT doc_id, n_chars, fp,
             row_number() OVER (PARTITION BY fp
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY fp) AS n_copies
      FROM f
    )
    SELECT doc_id AS kept_id, CAST(n_copies AS BIGINT) AS n_copies,
           n_chars AS quality
    FROM r WHERE rn = 1
    """,
    tags=("llm", "dedup", "canonical"),
)
def llm_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup canonical selection (llm.dedup.exact_dedup_keep_best):
    within each normalized-text duplicate cluster keep the highest-quality
    copy (n_chars desc, doc_id asc) — the keep-the-richest-crawl policy, vs
    exact_dedup's min-id. One md5 shuffle; argmax and copy count share the
    fingerprint partitioning (no second exchange)."""
    d = load_tables(spark, sf_dir)["documents"]
    return dedup.exact_dedup_keep_best(d)


@query(
    "llm_prefix_dup_rate",
    oracle="""
    WITH p AS (
      SELECT source,
             md5(array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                            1, 12), ' ')) AS fp
      FROM documents WHERE length(trim(text)) > 0
    ), s AS (
      SELECT source, (count(*) OVER (PARTITION BY fp) > 1) AS is_shared FROM p
    )
    SELECT source AS "group", count(*) AS n_docs,
           CAST(sum(CASE WHEN is_shared THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_prefix,
           CAST(sum(CASE WHEN is_shared THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS shared_rate
    FROM s GROUP BY source
    """,
    tags=("llm", "text", "boilerplate"),
)
def llm_prefix_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection (llm.dedup.prefix_dup_rate): per source, the
    fraction of documents whose first 12 tokens are shared with another
    document — templated headers / licence blocks / nav chrome. Exact
    integer counts, one final IEEE division; prefix md5 is map-side and
    text never shuffles."""
    d = load_tables(spark, sf_dir)["documents"]
    return dedup.prefix_dup_rate(d, k=12)


@query(
    "llm_embedding_outliers",
    oracle="""
    WITH q AS (
      SELECT vec_id AS id,
             CAST(list_sum(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                  * 16384.0) AS BIGINT))) AS BIGINT) AS norm_q
      FROM embeddings
    ), st AS (SELECT count(*) AS n, CAST(sum(norm_q) AS BIGINT) AS s FROM q)
    SELECT id, norm_q, CAST(norm_q * n - s AS DOUBLE) / s AS dev_ratio
    FROM q, st
    ORDER BY abs(norm_q * n - s) DESC, id ASC
    LIMIT 20
    """,
    tags=("llm", "embeddings", "qa"),
)
def llm_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA (llm.similarity.embedding_norm_outliers, top mode): the
    20 vectors whose quantized squared norm deviates MOST from the corpus
    mean — truncated / zero / un-normalized vectors surface before they
    poison ANN recall. floor(x²·2¹⁴) per element keeps every sum an exact
    integer (order-free across engines); ranking keys are pure integers and
    the plan is a bounded-heap TakeOrderedAndProject, never a global sort."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return similarity.embedding_norm_outliers(e, top=20)


_WINNOW_ORACLE_CTE = """
  toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
  ), grams AS (
    SELECT doc_id,
           CASE WHEN len(t) >= 3
                THEN list_transform(generate_series(1, len(t) - 2),
                     i -> substr(md5(array_to_string(list_slice(t, i, i + 2), ' ')), 1, 8))
                ELSE [] END AS g
    FROM toks
  ), winnowed AS (
    SELECT doc_id, len(g) AS n_kgrams,
           list_sort(list_distinct(
             CASE WHEN len(g) >= 4
                  THEN list_transform(generate_series(1, len(g) - 3),
                       j -> list_min(list_slice(g, j, j + 3)))
                  WHEN len(g) > 0 THEN [list_min(g)]
                  ELSE [] END)) AS fps
    FROM grams
  )
"""


@query(
    "llm_winnowing_fingerprint",
    oracle=f"""
    WITH {_WINNOW_ORACLE_CTE}
    SELECT doc_id, CAST(n_kgrams AS INT) AS n_kgrams,
           CAST(len(fps) AS INT) AS n_fps,
           md5(array_to_string(fps, ',')) AS fp_sig
    FROM winnowed
    """,
    tags=("llm", "text", "fingerprint", "bench"),
)
def llm_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting with winnowing (MOSS,
    SIGMOD'03 — llm.text.winnow_fingerprints, k=3 token shingles, window
    w=4): per document, the shingle count, the fingerprint-set size, and an
    md5 signature over the sorted fingerprint set — a full-strength value
    check of every selected hash without shipping the arrays through the
    compare harness. One map-side codegen pass; no shuffle."""
    d = load_tables(spark, sf_dir)["documents"]
    wf = text.winnow_fingerprints(d, k=3, w=4)
    return wf.select(
        "doc_id",
        "n_kgrams",
        F.size("fps").alias("n_fps"),
        F.md5(F.concat_ws(",", "fps")).alias("fp_sig"),
    )


@query(
    "llm_fingerprint_overlap",
    oracle=f"""
    WITH {_WINNOW_ORACLE_CTE},
    f AS (SELECT doc_id, unnest(fps) AS fp FROM winnowed),
    kept AS (SELECT fp FROM f GROUP BY fp HAVING count(*) BETWEEN 2 AND 50),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM f a JOIN kept USING (fp) JOIN f b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM p
    ORDER BY n_shared DESC, doc_a, doc_b LIMIT 20
    """,
    tags=("llm", "dedup", "fingerprint", "bench"),
)
def llm_fingerprint_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document overlap detection over winnowing fingerprints: explode
    each document's fingerprint set, drop hot buckets (fingerprints shared
    by > 50 documents — boilerplate shingles that would square the pair
    count), bucket-self-join on the 8-char fingerprint, and rank document
    pairs by shared-fingerprint count. (n_shared DESC, doc_a, doc_b) is a
    total order, so LIMIT 20 is engine-deterministic.

    100 TB plan: this is the winnowing analogue of the MinHash LSH bucket
    join — candidate pairs come only from shared fingerprints (never
    all-pairs), the hot-bucket cap bounds any bucket's pair fan-out at
    50², and the join key is 8 chars + doc_id; text never shuffles. The
    exploded (doc_id, fp) pass is localCheckpoint-materialized once (the
    same materialization the MinHash banded pass uses) — it feeds the bucket
    counts and BOTH self-join sides, and re-running the winnowing hash per
    consumer tripled the runtime (measured 40 s -> ~3 s at sf0.01)."""
    d = load_tables(spark, sf_dir)["documents"]
    f = (
        text.winnow_fingerprints(d, k=3, w=4)
        .select("doc_id", F.explode("fps").alias("fp"))
        .transform(plan_checkpoint)
    )
    counts = f.groupBy("fp").agg(F.count(F.lit(1)).alias("c"))
    kept = counts.filter((F.col("c") >= 2) & (F.col("c") <= 50)).select("fp")
    # r13 optimization: the former kept⋈f self-join (a⋈b on fp) shuffled f
    # twice and joined three times; instead, collect each SURVIVING bucket
    # (≤ 50 members by the hot cap, so the agg buffer is bounded) and
    # expand its ordered pairs in one Arrow pass — one exchange of f
    # replaces two, and the pair fan-out never touches the join machinery.
    # Pair multiplicity matches the join exactly: per bucket, sorted
    # member positions i<j with ids[i] != ids[j] ⇔ join rows a.doc<b.doc.
    buckets = f.join(kept, "fp").groupBy("fp").agg(
        F.collect_list("doc_id").alias("ids")
    )

    def expand(batches):
        import pandas as pd

        for pdf in batches:
            out_a: list[int] = []
            out_b: list[int] = []
            for ids in pdf["ids"]:
                s = sorted(int(x) for x in ids)
                m = len(s)
                for i in range(m):
                    ai = s[i]
                    for j in range(i + 1, m):
                        if s[j] != ai:
                            out_a.append(ai)
                            out_b.append(s[j])
            yield pd.DataFrame(
                {
                    "doc_a": pd.array(out_a, dtype="int64"),
                    "doc_b": pd.array(out_b, dtype="int64"),
                }
            )

    pairs = (
        buckets.select("ids")
        .mapInPandas(expand, "doc_a bigint, doc_b bigint")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return pairs.orderBy(F.desc("n_shared"), "doc_a", "doc_b").limit(20)


@query(
    "llm_semantic_dedup",
    oracle="""
    WITH RECURSIVE corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5),
             label
      FROM embeddings WHERE vec_id < 50
    ),
    p AS (
      SELECT a.vec_id AS da, b.vec_id AS db
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.99
    ),
    e AS (SELECT da AS s, db AS d FROM p UNION SELECT db, da FROM p),
    v AS (SELECT DISTINCT s AS id FROM e),
    walk AS (
      SELECT id, id AS lab FROM v
      UNION
      SELECT e.d AS id, w.lab FROM walk w JOIN e ON e.s = w.id
    ),
    comp AS (SELECT id, min(lab) AS rep FROM walk GROUP BY id)
    SELECT corpus.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN comp.rep IS NOT NULL
                          AND comp.rep <> corpus.vec_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM corpus LEFT JOIN comp ON comp.id = corpus.vec_id
    GROUP BY corpus.label
    """,
    tags=("llm", "similarity", "dedup", "semantic"),
)
def llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup end-to-end (Abbas et al. 2023, public
    method): embedding-cosine near-dup pairs (planted 1.5x-scaled copies,
    cosine ≈ 1.0 vs random 64-d pairs far below the 0.99 threshold) feed
    connected components; every non-representative member of a cluster is
    DROPPED and the drops are accounted per label — the keep/drop decision
    a training-data pipeline actually executes, not just the pair list.
    Composes similarity.cosine_dup_pairs with
    curation.connected_components; the oracle recomputes exhaustive O(n²)
    cosine pairs and recursive-CTE reachability, so the composition must
    agree transitively.

    100 TB plan: pair generation is the documented scale seam — swap
    cosine_dup_pairs (blocked GEMM, exact) for lsh_dup candidates at real
    corpus sizes; components and accounting are unchanged. Labels ride the
    original rows (one broadcast-size join against the drop set)."""
    from hdp2_5_hive2_spark.llm import curation as cur

    e = load_tables(spark, sf_dir)["embeddings"]
    copies = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            similarity.as_double_array("embedding"), lambda x: x * 1.5
        ).alias("embedding"),
        "label",
    )
    corpus = e.select(
        "vec_id", similarity.as_double_array("embedding").alias("embedding"), "label"
    ).unionAll(copies)
    pairs = similarity.cosine_dup_pairs(
        corpus.select("vec_id", "embedding"), threshold=0.99
    )
    comp = cur.connected_components(pairs, a_col="id_a", b_col="id_b")
    dropped = comp.filter(F.col("id") != F.col("cluster_rep")).select("id")
    return (
        corpus.join(dropped, corpus["vec_id"] == dropped["id"], "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(dropped["id"]).alias("n_dropped"),
        )
    )


@query(
    "llm_semantic_dedup_lsh",
    oracle="""
    WITH RECURSIVE corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5),
             label
      FROM embeddings WHERE vec_id < 50
    ),
    p AS (
      SELECT a.vec_id AS da, b.vec_id AS db
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.v, b.v) >= 0.99
    ),
    e AS (SELECT da AS s, db AS d FROM p UNION SELECT db, da FROM p),
    v AS (SELECT DISTINCT s AS id FROM e),
    walk AS (
      SELECT id, id AS lab FROM v
      UNION
      SELECT e.d AS id, w.lab FROM walk w JOIN e ON e.s = w.id
    ),
    comp AS (SELECT id, min(lab) AS rep FROM walk GROUP BY id)
    SELECT corpus.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN comp.rep IS NOT NULL
                          AND comp.rep <> corpus.vec_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM corpus LEFT JOIN comp ON comp.id = corpus.vec_id
    GROUP BY corpus.label
    """,
    tags=("llm", "similarity", "dedup", "semantic", "lsh", "bench"),
)
def llm_semantic_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the 100 TB pair source: identical composition to
    llm_semantic_dedup but pairs come from similarity.lsh_dup_pairs (LSH
    candidate buckets + exact cosine re-check) instead of the exact
    blocked GEMM — the documented scale seam, now driver-verified against
    the SAME exhaustive O(n²) oracle (VERDICT r5 #6). Planted 1.5x-scaled
    copies have identical direction, so they share a signature in every
    LSH table (guaranteed candidates); the exact re-check at 0.99 discards
    false candidates, so both pair sources must produce identical clusters
    and identical per-label drop accounting.

    100 TB plan: this IS the scale path — map-side matmul signatures, one
    bounded bucket self-join, Arrow re-check; components and accounting
    unchanged from llm_semantic_dedup."""
    from hdp2_5_hive2_spark.llm import curation as cur

    e = load_tables(spark, sf_dir)["embeddings"]
    copies = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            similarity.as_double_array("embedding"), lambda x: x * 1.5
        ).alias("embedding"),
        "label",
    )
    corpus = e.select(
        "vec_id", similarity.as_double_array("embedding").alias("embedding"), "label"
    ).unionAll(copies)
    pairs = similarity.lsh_dup_pairs(
        corpus.select("vec_id", "embedding"), threshold=0.99
    )
    comp = cur.connected_components(pairs, a_col="id_a", b_col="id_b")
    dropped = comp.filter(F.col("id") != F.col("cluster_rep")).select("id")
    return (
        corpus.join(dropped, corpus["vec_id"] == dropped["id"], "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count(dropped["id"]).alias("n_dropped"),
        )
    )


@query(
    "llm_vocab_drift",
    oracle="""
    WITH t AS (
      SELECT doc_id % 2 AS split, unnest(string_split_regex(trim(text), '\\s+')) AS token
      FROM documents
    ),
    c AS (
      SELECT token,
             CAST(sum(CASE WHEN split = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(sum(CASE WHEN split = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      FROM t WHERE token <> '' GROUP BY token
    ),
    n AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a, CAST(sum(c_b) AS BIGINT) AS n_b FROM c)
    SELECT token, c_a, c_b,
           CAST(c_a * n_b - c_b * n_a AS DOUBLE) * CAST(c_a * n_b - c_b * n_a AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * CAST(c_a + c_b AS DOUBLE))
             AS drift
    FROM c, n
    ORDER BY drift DESC, token LIMIT 20
    """,
    tags=("llm", "text", "qa", "drift"),
)
def llm_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift QA: chi-square-style per-token drift between two corpus
    splits (doc_id parity here; in production, old vs new crawl snapshot).
    The cross term d = c_a·N_b − c_b·N_a is an EXACT int64 (and exact as a
    double below 2^53 — holds to ~1e8 tokens per split, documented); the
    score d²/(N_a·N_b·(c_a+c_b)) is one fixed-order double expression, so
    both engines produce bit-identical values and (drift DESC, token) is a
    total order for the top-20 heap.

    100 TB plan: one shuffle on the token key with map-side partial
    conditional counts; the two split totals are a one-row broadcast cross
    join; ranking is a bounded TakeOrderedAndProject, never a global
    sort."""
    d = load_tables(spark, sf_dir)["documents"]
    t = d.select(
        (F.col("doc_id") % 2).alias("split"),
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    c = t.groupBy("token").agg(
        F.sum(F.when(F.col("split") == 0, 1).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("split") == 1, 1).otherwise(0)).alias("c_b"),
    )
    n = c.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    d_term = (F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a")).cast(
        "double"
    )
    drift = (d_term * d_term) / (
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        * (F.col("c_a") + F.col("c_b")).cast("double")
    )
    return (
        c.crossJoin(F.broadcast(n))
        .select("token", "c_a", "c_b", drift.alias("drift"))
        .orderBy(F.desc("drift"), "token")
        .limit(20)
    )


@query(
    "llm_source_temperature_mix",
    oracle="""
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
                 CAST(max(n_docs) AS BIGINT) AS n_max FROM c)
    SELECT c.source,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(c.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS p_uniform,
           sqrt(CAST(c.n_docs AS DOUBLE) / CAST(t.n_max AS DOUBLE)) AS w_t05_rel,
           CAST(floor(sqrt(CAST(c.n_docs AS DOUBLE) / CAST(t.n_max AS DOUBLE))
                      * 1000.0) AS BIGINT) AS quota_per_1k_of_max
    FROM c, t
    ORDER BY source
    """,
    tags=("llm", "curation", "sampling", "mixture"),
)
def llm_source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixture weights (the mT5/XLM-R sampling
    rule, public method: p_s proportional to n_s^T, here T=0.5): per source,
    the uniform share and the temperature-flattened sampling weight
    relative to the largest source, plus an integer per-1000 quota.

    Exactness discipline: every double is a FIXED chain of single IEEE ops
    over exact integers — one division, one sqrt (both correctly rounded
    per IEEE-754, so Spark's JVM and DuckDB's libm agree bitwise), one
    multiply, one floor. Normalizing by Sum(sqrt(n_s)) instead would need an
    order-dependent float sum and could never hash-match; the relative
    form carries the same information (divide by the constant row sum to
    recover probabilities).

    100 TB plan: one map-side count per source (tiny result), a one-row
    broadcast of the totals, all codegen."""
    d = load_tables(spark, sf_dir)["documents"]
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").alias("n_total"), F.max("n_docs").alias("n_max")
    )
    ratio = F.col("n_docs").cast("double") / F.col("n_max").cast("double")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_total").cast("double"))
            .alias("p_uniform"),
            F.sqrt(ratio).alias("w_t05_rel"),
            F.floor(F.sqrt(ratio) * F.lit(1000.0))
            .cast("bigint")
            .alias("quota_per_1k_of_max"),
        )
        .orderBy("source")
    )


@query(
    "llm_filter_funnel",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             length(trim(text)) > 0 AS g1,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x <> '')) AS n_tok,
             len(list_distinct(list_filter(string_split_regex(trim(text), '\\s+'),
                                           x -> x <> ''))) AS n_uniq,
             lang
      FROM documents
    ),
    g AS (
      SELECT g1,
             g1 AND n_tok >= 20                    AS g2,
             g1 AND n_tok >= 20 AND lang = 'en'    AS g3,
             g1 AND n_tok >= 20 AND lang = 'en'
                AND n_uniq * 10 >= n_tok * 3       AS g4,
             n_tok
      FROM f
    ),
    tot AS (SELECT count(*) AS n0 FROM g)
    SELECT s.stage, s.n_docs, s.n_tokens,
           CAST(s.n_docs AS DOUBLE) / CAST(tot.n0 AS DOUBLE) AS survival
    FROM (
      SELECT 1 AS stage, CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN g1 THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens FROM g
      UNION ALL
      SELECT 2, CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN g2 THEN n_tok ELSE 0 END) AS BIGINT) FROM g
      UNION ALL
      SELECT 3, CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN g3 THEN n_tok ELSE 0 END) AS BIGINT) FROM g
      UNION ALL
      SELECT 4, CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(sum(CASE WHEN g4 THEN n_tok ELSE 0 END) AS BIGINT) FROM g
    ) s, tot
    ORDER BY stage
    """,
    tags=("llm", "curation", "quality", "funnel"),
)
def llm_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel / pipeline-yield report: surviving documents
    and whitespace tokens after each cascaded gate — (1) non-empty, (2)
    length >= 20 tokens, (3) lang = en, (4) unique-token ratio >= 30%
    (the Gopher-style repetition gate) — the per-stage accounting every
    production curation pipeline publishes before training. Counts are
    exact ints; survival is one exact division.

    100 TB plan: ONE pass over text computes all per-doc flags map-side
    (codegen'd conditionals, no shuffle of text); the funnel is four
    conditional sums in a single partial+final aggregate; the one-row
    total broadcasts. Adding gates costs zero extra passes."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    f = d.select(
        (F.length(F.trim("text")) > 0).alias("g1"),
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        "lang",
    )
    g = f.select(
        "g1",
        (F.col("g1") & (F.col("n_tok") >= 20)).alias("g2"),
        (F.col("g1") & (F.col("n_tok") >= 20) & (F.col("lang") == "en"))
        .alias("g3"),
        (
            F.col("g1")
            & (F.col("n_tok") >= 20)
            & (F.col("lang") == "en")
            & (F.col("n_uniq") * 10 >= F.col("n_tok") * 3)
        ).alias("g4"),
        "n_tok",
    )
    agg = g.agg(
        F.count(F.lit(1)).alias("n0"),
        *[
            x
            for i in (1, 2, 3, 4)
            for x in (
                F.sum(F.when(F.col(f"g{i}"), 1).otherwise(0)).alias(f"d{i}"),
                F.sum(F.when(F.col(f"g{i}"), F.col("n_tok")).otherwise(0))
                .alias(f"t{i}"),
            )
        ],
    )
    stages = [
        agg.select(
            F.lit(i).alias("stage"),
            F.col(f"d{i}").alias("n_docs"),
            F.col(f"t{i}").alias("n_tokens"),
            (F.col(f"d{i}").cast("double") / F.col("n0").cast("double"))
            .alias("survival"),
        )
        for i in (1, 2, 3, 4)
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionAll(s)
    return out.orderBy("stage")


@query(
    "llm_token_diversity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS c FROM tok GROUP BY doc_id, term
    ), d AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c * c) AS BIGINT) AS sumsq
      FROM tf GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST(n_tokens * n_tokens - sumsq AS DOUBLE)
             / CAST(n_tokens * n_tokens AS DOUBLE) AS gini
    FROM d
    """,
    tags=("llm", "text", "quality"),
)
def llm_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gini–Simpson token diversity (llm.text.token_diversity)
    — the degenerate-text filter that weighs HOW unevenly tokens repeat,
    not just whether they do (complement of llm_repetition_stats). Exact
    int64 moments + one closing IEEE division, so all 4 columns hash-match
    bitwise across every document."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.token_diversity(d)


@query(
    "llm_quantized_ann_recall",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= 5
    ), qq AS (
      SELECT vec_id,
             list_transform(v, x -> greatest(-127.0, least(127.0,
               floor(x * (CASE WHEN m = 0.0 THEN 1.0 ELSE 127.0 / m END))))) AS qv
      FROM (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
            FROM q)
    ), qc AS (
      SELECT vec_id,
             list_transform(v, x -> greatest(-127.0, least(127.0,
               floor(x * (CASE WHEN m = 0.0 THEN 1.0 ELSE 127.0 / m END))))) AS qv
      FROM (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
            FROM c)
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(c.v, q.v) DESC, c.vec_id
               ) AS rank
        FROM c CROSS JOIN q
      ) WHERE rank <= 10
    ), quant AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qq.vec_id AS query_id, qc.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY qq.vec_id
                 ORDER BY list_dot_product(qc.qv, qq.qv)
                          / (sqrt(list_dot_product(qc.qv, qc.qv))
                             * sqrt(list_dot_product(qq.qv, qq.qv))) DESC,
                          qc.vec_id
               ) AS rank
        FROM qc CROSS JOIN qq
      ) WHERE rank <= 10
    )
    SELECT e.query_id,
           CAST(SUM(CASE WHEN n.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_overlap
    FROM exact e
    LEFT JOIN quant n
      ON e.query_id = n.query_id AND e.neighbor_id = n.neighbor_id
    GROUP BY e.query_id
    """,
    tags=("llm", "similarity", "ann", "quantize", "bench"),
)
def llm_quantized_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of int8-quantized ANN serving (llm.similarity
    .quantized_topk) against the exact float path (brute_force_topk): per
    query, how many of the true top-10 survive quantization — the
    acceptance gate before shipping a quantized index. The quantized side
    is integer arithmetic end-to-end (scores bit-identical cross-engine,
    ties broken on the id); the exact side reuses the llm_ann_topk rank
    argument. Output (query_id, n_overlap) is all-integer."""
    e = load_tables(spark, sf_dir)["embeddings"]
    corpus, queries = e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5)
    # ONE query-collect job shared by both kernels (guide §1.2: the exact
    # and quantized scans need the same broadcast-small query block).
    qb = similarity.collect_query_block(queries, caller="llm_quantized_ann_recall")
    exact = similarity.brute_force_topk(
        corpus=corpus, queries=queries, k=10, q_rows=qb
    ).select("query_id", "neighbor_id")
    quant = (
        similarity.quantized_topk(corpus=corpus, queries=queries, k=10, q_rows=qb)
        .select("query_id", "neighbor_id")
        .withColumn("_m", F.lit(1))
    )
    return (
        exact.join(quant, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("_m"), F.lit(0))).alias("n_overlap"))
    )


@query(
    "llm_containment_dedup",
    oracle="""
    WITH sliced AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
      WHERE doc_id < 30
    ), corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, array_to_string(t[6:25], ' ') AS text
      FROM sliced WHERE len(t) >= 25
    ), tok AS (
      SELECT doc_id, text,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM corpus
    )
    SELECT a.doc_id AS inner_id, b.doc_id AS outer_id
    FROM tok a JOIN tok b ON a.doc_id <> b.doc_id
    WHERE a.n_tokens >= 6
      AND length(a.text) < length(b.text)
      AND contains(b.text, a.text)
    """,
    tags=("llm", "dedup", "containment"),
)
def llm_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-containment dedup (llm.dedup.containment_pairs): 30
    planted token-slice documents (tokens 6-25 of their parent) must each
    be flagged inside their parent, and any natural containments must
    match the oracle's exhaustive O(n²) position scan — the winnowing
    guarantee makes the fingerprint-bucket candidate pass lossless for
    inner docs of >= k+w-1 tokens, so bucketed recall equals exhaustive
    truth."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    planted = (
        d.filter(F.col("doc_id") < 30)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 25)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat_ws(" ", F.slice(F.col("t"), 6, 20)).alias("text"),
        )
    )
    corpus = d.select("doc_id", "text").unionAll(planted)
    return dedup.containment_pairs(corpus)


@query(
    "llm_source_cap",
    oracle="""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS r
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r <= 10 THEN doc_id ELSE 0 END) AS BIGINT)
             AS kept_id_checksum
    FROM ranked GROUP BY source
    """,
    tags=("llm", "curation", "cap"),
)
def llm_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (llm.curation.cap_per_group, cap=10) — the
    per-domain cap of crawl curation. The kept set is hash-ordered
    (md5(doc_id)) so it is deterministic across engines; per source the
    query reports total docs, kept docs and the kept-id checksum."""
    d = load_tables(spark, sf_dir)["documents"]
    kept = curation.cap_per_group(d, group_col="source", cap=10).select(
        "source", F.col("doc_id").alias("kept_id")
    )
    totals = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kept_agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("kept_id").alias("kept_id_checksum"),
    )
    return totals.join(kept_agg, "source").select(
        "source", "n_docs", "n_kept", "kept_id_checksum"
    )


def _md5_minhash_oracle(num_hashes: int = 16) -> str:
    """Oracle for llm_minhash_est_error — generated once at import with the
    same fixed per-hash md5 salts the Spark side uses."""
    sig_cols = ",\n".join(
        f"        min(md5('{i}:' || sh)) AS m{i}" for i in range(num_hashes)
    )
    matches = " + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(num_hashes))
    return f"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id < 50
    ), near AS (
      SELECT doc_id, array_to_string(t[1:len(t)-1], ' ') AS text FROM base
    ), corpus AS (
      SELECT doc_id, text, 'a' AS side FROM documents WHERE doc_id < 50
      UNION ALL
      SELECT doc_id, text, 'b' AS side FROM near
    ), sh AS (
      SELECT doc_id, side,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM (SELECT doc_id, side, string_split_regex(trim(text), '\\s+') AS t FROM corpus)
    ), sig AS (
      SELECT doc_id, side,
{sig_cols}
      FROM sh GROUP BY doc_id, side
    ), sets AS (
      SELECT doc_id, side,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
      FROM (SELECT doc_id, side, string_split_regex(trim(text), '\\s+') AS t FROM corpus)
    )
    SELECT a.doc_id,
           CAST(({matches}) AS BIGINT) AS est_matches,
           CAST(({matches}) AS DOUBLE) / {num_hashes} AS est_jaccard,
           CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_inter,
           CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS BIGINT) AS n_union,
           CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
    FROM sig a JOIN sig b ON a.doc_id = b.doc_id AND a.side = 'a' AND b.side = 'b'
    JOIN sets sa ON sa.doc_id = a.doc_id AND sa.side = 'a'
    JOIN sets sb ON sb.doc_id = a.doc_id AND sb.side = 'b'
    """


@query(
    "llm_minhash_est_error",
    oracle=_md5_minhash_oracle(),
    tags=("llm", "dedup", "minhash", "qa"),
)
def llm_minhash_est_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy audit: for 50 planted near-dup pairs (each doc vs
    itself minus its last token), compare the 16-hash MinHash Jaccard
    ESTIMATE against exact shingle Jaccard — the calibration check run
    before trusting LSH thresholds on a new corpus. The signature hash is
    md5('i:' || shingle) compared lexicographically (engine-identical, no
    integer conversion), match counts and set sizes are exact ints, and
    the two closing divisions are single IEEE ops — bitwise oracle parity
    with no rank indirection.

    100 TB: signatures are 16 conditional mins over the exploded
    (doc, shingle) frame — one shuffle keyed on the doc id, map-side
    partial mins; the exact-Jaccard side here is per-PLANTED-pair only
    (array intersect on a 1:1 join), not all-pairs."""
    num_hashes = 16
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.filter(F.col("doc_id") < 50).select("doc_id", "text")
    near = d.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )

    def sig(frame: DataFrame, suffix: str) -> DataFrame:
        sh = frame.select(
            "doc_id",
            F.explode(F.array_distinct(dedup.shingles("text", 3))).alias("sh"),
        )
        return sh.groupBy("doc_id").agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(
                    f"m{i}{suffix}"
                )
                for i in range(num_hashes)
            ]
        )

    def sets(frame: DataFrame, alias: str) -> DataFrame:
        return frame.select(
            "doc_id", F.array_distinct(dedup.shingles("text", 3)).alias(alias)
        )

    est = None
    for i in range(num_hashes):
        m = F.when(F.col(f"m{i}a") == F.col(f"m{i}b"), 1).otherwise(0)
        est = m if est is None else est + m
    inter = F.size(F.array_intersect("sa", "sb"))
    uni = F.size(F.array_union("sa", "sb"))
    return (
        sig(base, "a")
        .join(sig(near, "b"), "doc_id")
        .join(sets(base, "sa"), "doc_id")
        .join(sets(near, "sb"), "doc_id")
        .select(
            "doc_id",
            est.cast("bigint").alias("est_matches"),
            (est.cast("double") / num_hashes).alias("est_jaccard"),
            inter.cast("bigint").alias("n_inter"),
            uni.cast("bigint").alias("n_union"),
            (inter.cast("double") / uni).alias("jaccard"),
        )
    )


@query(
    "llm_split_leakage",
    oracle="""
    WITH s AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    ), sp AS (
      SELECT doc_id,
             CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id,
                   CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                     % 100 AS b
            FROM documents)
    ), pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    )
    SELECT least(pa.split, pb.split) AS split_a,
           greatest(pa.split, pb.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(da + db) AS BIGINT) AS id_checksum
    FROM pairs
    JOIN sp pa ON pa.doc_id = da
    JOIN sp pb ON pb.doc_id = db
    GROUP BY 1, 2
    """,
    tags=("llm", "curation", "dedup", "leakage"),
)
def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: assign the deterministic hash split
    (same rule as llm_split_assign), find all near-duplicate pairs
    (MinHash-LSH candidates + exact Jaccard >= 0.8 — recall-complete vs
    the oracle's exhaustive scan, see llm_ngram_jaccard), and report the
    pair-count matrix by split combination. Off-diagonal rows ARE the
    leakage: an eval doc with a train-set near-dup inflates benchmark
    scores — this is the audit run before any split ships.

    100 TB: split assignment is map-side; the pair source is the bucketed
    LSH pass (never all-pairs); the closing matrix is a ≤6-row aggregate."""
    d = load_tables(spark, sf_dir)["documents"]
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.8).select("id_a", "id_b")
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    sp = d.select(
        "doc_id",
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split"),
    )
    joined = (
        pairs.join(sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa")), "id_a")
        .join(sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb")), "id_b")
    )
    return (
        joined.select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
            "id_a",
            "id_b",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("id_checksum"),
        )
    )


@query(
    "llm_corpus_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, text FROM documents
    ), new AS (
      SELECT doc_id, text || CASE WHEN doc_id % 13 = 0 THEN ' addendum' ELSE '' END AS text
      FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id < 20
    ), o AS (SELECT doc_id, md5(text) AS h FROM old),
    n AS (SELECT doc_id, md5(text) AS h FROM new),
    d AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    )
    SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM d GROUP BY status
    """,
    tags=("llm", "curation", "versioning"),
)
def llm_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus releases (llm.curation
    .snapshot_diff): release N+1 drops every 17th doc, appends an addendum
    to every 13th, and adds 20 new docs — the diff must classify every id
    as added/removed/changed/unchanged, aggregated with id checksums. Text
    is md5'd map-side; only (id, hash) rows shuffle."""
    d = load_tables(spark, sf_dir)["documents"]
    new = (
        d.filter(F.col("doc_id") % 17 != 0)
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 13 == 0, F.lit(" addendum")).otherwise(
                    F.lit("")
                ),
            ).alias("text"),
        )
        .unionAll(
            d.filter(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 5000000).alias("doc_id"), "text"
            )
        )
    )
    diff = curation.snapshot_diff(d.select("doc_id", "text"), new)
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
    )


@query(
    "llm_anchor_cells",
    oracle="""
    WITH a AS (
      SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av
      FROM embeddings WHERE vec_id < 8
    ), c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= 8
    ), assigned AS (
      SELECT vec_id, anchor_id FROM (
        SELECT c.vec_id, a.anchor_id,
               row_number() OVER (
                 PARTITION BY c.vec_id
                 ORDER BY list_cosine_similarity(c.v, a.av) DESC, a.anchor_id
               ) AS rn
        FROM c CROSS JOIN a
      ) WHERE rn = 1
    )
    SELECT anchor_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(SUM(vec_id) AS BIGINT) AS id_checksum
    FROM assigned GROUP BY anchor_id
    """,
    tags=("llm", "similarity", "ivf", "sharding"),
)
def llm_anchor_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space cell-balance audit (llm.similarity.nearest_anchor):
    assign every corpus vector to its nearest of 8 fixed anchor vectors and
    report per-cell counts + id checksums — the skew check run before
    committing an IVF anchor set or embedding-sharded layout (a hot cell
    becomes the straggler task at index-build time). Assignment ranks are
    engine-stable (random 64-d vectors never near-tie; exact ties break on
    the anchor id in both engines)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    anchors = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") >= 8)
    assigned = similarity.nearest_anchor(corpus, anchors)
    return assigned.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("vec_id").alias("id_checksum"),
    )


@query(
    "llm_quality_features",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, text, toks,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1]) AS bigs
      FROM t
    ), flat AS (
      SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             CAST(length(text) AS INTEGER) AS n_chars,
             (length(text)
              - (length(text) - length(replace(text, ' ', ''))))
               / CAST(len(toks) AS DOUBLE) AS avg_token_len,
             CAST(len(list_intersect(toks,
                 ['the','and','of','to','a','in','is','it','you','that']))
               AS INTEGER) AS stopword_hits,
             CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INTEGER)
               AS alpha_chars,
             (len(toks) - len(list_distinct(toks))) / len(toks) AS dup_token_frac,
             CASE WHEN len(toks) >= 2
                  THEN (len(bigs) - len(list_distinct(bigs))) / len(bigs)
                  ELSE 0.0 END AS dup_bigram_frac
      FROM b
    ), tf AS (
      SELECT doc_id, term, count(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS term FROM t)
      GROUP BY doc_id, term
    ), div AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c) * SUM(c) - SUM(c * c) AS DOUBLE)
               / CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini
      FROM tf GROUP BY doc_id
    )
    SELECT flat.doc_id, n_tokens, n_chars, avg_token_len, stopword_hits,
           alpha_chars, dup_token_frac, dup_bigram_frac, n_distinct, gini
    FROM flat JOIN div ON flat.doc_id = div.doc_id
    """,
    tags=("llm", "text", "quality", "features"),
)
def llm_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality FEATURE MATRIX — the feature-extraction pass
    that feeds a trained quality-filter model (FineWeb/DataComp style):
    length/shape stats, stopword and alphabetic signals, Gopher repetition
    fractions, and Gini diversity in one wide frame. Every column is exact
    ints or a single IEEE division, so the full matrix hash-matches.

    100 TB: everything except the diversity join is ONE map-side codegen
    pass over the corpus (no shuffle); token_diversity contributes the
    only exchanges (doc-keyed, map-side combine), and the closing join is
    id-to-id on co-partitioned aggregation output."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = F.size(toks)
    n_chars = F.length("text")
    n_spaces = n_chars - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    en_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in text.STOPWORDS["en"]]))
    )
    alpha_chars = F.length(F.regexp_replace(F.col("text"), r"[^a-zA-Z]", ""))
    n_uniq = F.size(F.array_distinct(toks))
    big = F.arrays_zip(F.slice(toks, 1, n_tok - 1), F.slice(toks, 2, n_tok - 1))
    n_big = F.size(big)
    n_uniq_big = F.size(F.array_distinct(big))
    flat = d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        ((n_chars - n_spaces) / n_tok.cast("double")).alias("avg_token_len"),
        en_hits.alias("stopword_hits"),
        alpha_chars.alias("alpha_chars"),
        ((n_tok - n_uniq) / n_tok).alias("dup_token_frac"),
        F.when(n_tok >= 2, (n_big - n_uniq_big) / n_big)
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )
    div = text.token_diversity(d).select("doc_id", "n_distinct", "gini")
    return flat.join(div, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "avg_token_len",
        "stopword_hits",
        "alpha_chars",
        "dup_token_frac",
        "dup_bigram_frac",
        "n_distinct",
        "gini",
    )


@query(
    "llm_dup_rate_sample",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(text) AS th,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 5 AS b
      FROM documents
    ), full_stats AS (
      SELECT count(*) AS n_docs, count(DISTINCT th) AS n_uniq FROM h
    ), samp AS (
      SELECT count(*) AS n_sample, count(DISTINCT th) AS n_uniq_sample
      FROM h WHERE b = 0
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sample AS BIGINT) AS n_sample,
           CAST(n_docs - n_uniq AS DOUBLE) / n_docs AS full_dup_frac,
           CAST(n_sample - n_uniq_sample AS DOUBLE) / n_sample AS sample_dup_frac
    FROM full_stats, samp
    """,
    tags=("llm", "dedup", "sampling", "qa"),
)
def llm_dup_rate_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled duplicate-rate estimation: exact-dup fraction (1 −
    distinct-md5/total) over the FULL corpus vs over a deterministic 20%
    hash sample (md5-bucket of the id) — the estimate-first discipline for
    100 TB corpus QA, where the sample pass reads 1/K of the data and the
    full pass is run only when the estimate crosses a threshold. Both
    fractions are exact ints + one IEEE division; the sample is
    hash-deterministic so both engines pick the same docs.

    Caveat (documented): an id-hash sample UNDERESTIMATES the dup fraction
    when duplicate clusters are small (a pair survives the sample only if
    both members do — probability 1/K² for a pair); the oracle pins the
    arithmetic, not an unbiasedness claim."""
    d = load_tables(spark, sf_dir)["documents"]
    h = d.select(
        "doc_id",
        F.md5("text").alias("th"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            % 5
        ).alias("b"),
    )
    full_stats = h.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("th").alias("n_uniq"),
    )
    samp = h.filter(F.col("b") == 0).agg(
        F.count(F.lit(1)).alias("n_sample"),
        F.count_distinct("th").alias("n_uniq_sample"),
    )
    return full_stats.crossJoin(samp).select(
        "n_docs",
        "n_sample",
        (
            (F.col("n_docs") - F.col("n_uniq")).cast("double") / F.col("n_docs")
        ).alias("full_dup_frac"),
        (
            (F.col("n_sample") - F.col("n_uniq_sample")).cast("double")
            / F.col("n_sample")
        ).alias("sample_dup_frac"),
    )


@query(
    "llm_contrastive_pairs",
    oracle="""
    WITH s AS (
      SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t) - 2),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
    ), pos AS (
      SELECT a.doc_id AS anchor_id, b.doc_id AS pos_id
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE len(a.sh) >= 1 AND len(b.sh) >= 1
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
    ), bucketed AS (
      SELECT doc_id AS cand_id,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 16 AS bucket
      FROM documents
    ), dup_edges AS (
      SELECT anchor_id, pos_id AS cand_id FROM pos
      UNION ALL
      SELECT pos_id AS anchor_id, anchor_id AS cand_id FROM pos
    ), cand AS (
      SELECT p.anchor_id, p.pos_id, b.cand_id,
             md5(CAST(p.anchor_id AS VARCHAR) || ':' || CAST(b.cand_id AS VARCHAR))
               AS pick
      FROM pos p
      JOIN bucketed b
        ON b.bucket = CAST(('0x' || substring(
             md5(CAST(p.anchor_id AS VARCHAR) || ':neg'), 1, 8)) AS BIGINT) % 16
      WHERE b.cand_id <> p.anchor_id
        AND NOT EXISTS (SELECT 1 FROM dup_edges d
                        WHERE d.anchor_id = p.anchor_id AND d.cand_id = b.cand_id)
    )
    SELECT anchor_id, pos_id, neg_id FROM (
      SELECT anchor_id, pos_id, cand_id AS neg_id,
             row_number() OVER (PARTITION BY anchor_id, pos_id
                                ORDER BY pick, cand_id) AS rn
      FROM cand
    ) WHERE rn = 1
    """,
    tags=("llm", "curation", "contrastive", "sampling"),
)
def llm_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (anchor, positive, negative) training triples
    (llm.curation.contrastive_pairs): positives are the MinHash near-dup
    pairs (recall-complete vs the oracle's exhaustive Jaccard scan),
    negatives are hash-bucketed deterministic draws excluding the anchor's
    known near-dups — the triple-mining step for embedding-model training.
    All ids and the md5 pick arithmetic are engine-exact."""
    d = load_tables(spark, sf_dir)["documents"]
    pairs = dedup.minhash_lsh_pairs(d, threshold=0.8).select("id_a", "id_b")
    return curation.contrastive_pairs(d, pairs, n_buckets=16)


@query(
    "llm_dedup_clusters_star",
    oracle="WITH RECURSIVE " + _ngram_cte(15) + """
    , rare AS (SELECT ngram FROM ngd GROUP BY ngram HAVING count(*) <= 100),
    e0 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM ngd a JOIN ngd b USING (ngram) JOIN rare USING (ngram)
           WHERE a.doc_id < b.doc_id),
    e AS (SELECT da AS s, db AS d FROM e0 UNION SELECT db, da FROM e0),
    v AS (SELECT DISTINCT s AS id FROM e),
    walk AS (
      SELECT id, id AS lab FROM v
      UNION
      SELECT e.d AS id, w.lab FROM walk w JOIN e ON e.s = w.id
    )
    SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_rep
    FROM walk GROUP BY id
    """,
    tags=("llm", "curation", "dedup", "star"),
)
def llm_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate clusters as llm_dedup_clusters but computed with the
    ADVERSARIAL-GRAPH backend (llm.curation.connected_components_star,
    Kiveris large-star/small-star — O(log) rounds regardless of component
    diameter, vs label propagation's O(diameter)): both backends must
    agree with the same recursive-CTE reachability oracle, turning the
    'swap in star-contraction for long chains' claim into a driver-checked
    contract."""
    d = load_tables(spark, sf_dir)["documents"]
    edges = curation.shared_ngram_edges(d, n=16, max_df=100)
    cc = curation.connected_components_star(edges)
    return cc.select(F.col("id").alias("doc_id"), "cluster_rep")


@query(
    "llm_fim_transform",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, length(text) AS n,
             length(text) // 3 AS third,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':a'), 1, 8))
               AS BIGINT) AS ha,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':b'), 1, 8))
               AS BIGINT) AS hb
      FROM documents WHERE length(text) >= 30
    ), cut AS (
      SELECT doc_id, text, n,
             1 + (ha % third) AS p1,
             third + 1 + (hb % third) AS p2
      FROM base
    ), parts AS (
      SELECT doc_id,
             substring(text, 1, p1 - 1) AS pre,
             substring(text, p1, p2 - p1) AS mid,
             substring(text, p2, n - p2 + 1) AS suf
      FROM cut
    )
    SELECT doc_id,
           CAST(length(pre) AS BIGINT) AS n_prefix,
           CAST(length(mid) AS BIGINT) AS n_middle,
           CAST(length(suf) AS BIGINT) AS n_suffix,
           md5('<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid) AS fim_md5
    FROM parts
    """,
    tags=("llm", "text", "transform", "fim"),
)
def llm_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle restructuring (Bavarian et al. 2022, PSM format):
    split each document at two DETERMINISTIC hash-jittered cut points
    (first cut in the first third, second in the middle third) and emit
    '<PRE>'+prefix+'<SUF>'+suffix+'<MID>'+middle — the data transformation
    that teaches code/text models infilling. Reproducibility discipline:
    the cuts are md5-of-id arithmetic, so the same corpus always yields
    the same training text (verified by the md5 of the transformed text).

    100 TB: pure map-side codegen string arithmetic — zero shuffle, zero
    Python; the transform streams at scan speed."""
    d = load_tables(spark, sf_dir)["documents"]

    def h(salt: str):
        return F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("bigint")

    cut = (
        d.filter(F.length("text") >= 30)
        .select(
            "doc_id",
            "text",
            F.length("text").alias("n"),
            (F.length("text") / 3).cast("long").alias("third"),
            h(":a").alias("ha"),
            h(":b").alias("hb"),
        )
        .select(
            "doc_id",
            "text",
            "n",
            (F.lit(1) + F.col("ha") % F.col("third")).alias("p1"),
            (F.col("third") + 1 + F.col("hb") % F.col("third")).alias("p2"),
        )
    )
    parts = cut.select(
        "doc_id",
        F.expr("substring(text, 1, p1 - 1)").alias("pre"),
        F.expr("substring(text, p1, p2 - p1)").alias("mid"),
        F.expr("substring(text, p2, n - p2 + 1)").alias("suf"),
    )
    return parts.select(
        "doc_id",
        F.length("pre").cast("bigint").alias("n_prefix"),
        F.length("mid").cast("bigint").alias("n_middle"),
        F.length("suf").cast("bigint").alias("n_suffix"),
        F.md5(
            F.concat(
                F.lit("<PRE>"), F.col("pre"), F.lit("<SUF>"), F.col("suf"),
                F.lit("<MID>"), F.col("mid"),
            )
        ).alias("fim_md5"),
    )


@query(
    "llm_lang_confusion",
    oracle="""
    WITH pred AS (
      SELECT doc_id, lang,
             CASE WHEN mx = 0 THEN 'und'
                  WHEN h_de = mx THEN 'de'
                  WHEN h_en = mx THEN 'en'
                  WHEN h_es = mx THEN 'es'
                  WHEN h_fr = mx THEN 'fr'
                  ELSE 'zh' END AS lang_pred
      FROM (
        SELECT doc_id, lang,
               len(list_intersect(t, ['the','and','of','to','a','in','is','it','you','that'])) AS h_en,
               len(list_intersect(t, ['el','la','de','que','y','en','un','ser','se','no'])) AS h_es,
               len(list_intersect(t, ['le','la','de','et','un','être','que','pour','dans','ce'])) AS h_fr,
               len(list_intersect(t, ['der','die','und','in','den','von','zu','das','mit','sich'])) AS h_de,
               len(list_intersect(t, ['的','一','是','不','了','人','我','在','有','他'])) AS h_zh,
               greatest(
                 len(list_intersect(t, ['the','and','of','to','a','in','is','it','you','that'])),
                 len(list_intersect(t, ['el','la','de','que','y','en','un','ser','se','no'])),
                 len(list_intersect(t, ['le','la','de','et','un','être','que','pour','dans','ce'])),
                 len(list_intersect(t, ['der','die','und','in','den','von','zu','das','mit','sich'])),
                 len(list_intersect(t, ['的','一','是','不','了','人','我','在','有','他']))) AS mx
        FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS t FROM documents)
      ) h
    )
    SELECT lang AS lang_true, lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM pred GROUP BY lang, lang_pred
    """,
    tags=("llm", "text", "langid", "qa"),
)
def llm_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: detected language (llm.text.lang_id)
    vs the table's ground-truth lang column, with per-cell doc counts and
    id checksums — the QA artifact that decides whether the lang filter's
    precision is good enough to gate on (off-diagonal mass = docs a lang
    filter would mis-route). Pure map-side detection + one tiny-key
    aggregation."""
    d = load_tables(spark, sf_dir)["documents"]
    pred = text.lang_id(d).select("doc_id", F.col("lang").alias("lang_true"), "lang_pred")
    return pred.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
    )


@query(
    "llm_chunk_dedup_keep_first",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN 'terms of service apply to this page all rights reserved contact us for more info ' || text
                  ELSE text END AS text
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
    ), toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus
    ), ch AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
             array_to_string(t[u.i*15+1 : u.i*15+15], ' ') AS chunk_text,
             len(t[u.i*15+1 : u.i*15+15]) AS n_ct
      FROM toks, unnest(range(CAST(ceil(len(t)/15.0) AS BIGINT))) AS u(i)
    ), kf AS (
      SELECT doc_id, chunk_idx, chunk_text, n_ct,
             row_number() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, chunk_idx) AS occ
      FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
           CAST(coalesce(sum(CASE WHEN occ = 1 THEN n_ct END), 0) AS INT)
             AS n_tokens_kept,
           md5(coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_idx)
                          FILTER (WHERE occ = 1), '')) AS residual_fp
    FROM kf GROUP BY doc_id
    """,
    tags=("llm", "dedup", "transform", "bench"),
)
def llm_chunk_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup as a TRANSFORM (llm.dedup.dedup_chunks_keep_first,
    CCNet-style paragraph removal): the corpus plants (a) a shared 15-token
    boilerplate prefix on every 7th doc — exactly one chunk on the 15-token
    grid — and (b) full copies of every 11th doc at doc_id+1000000. Only
    the globally FIRST occurrence of each chunk fingerprint survives; every
    document's residual text is rebuilt from its surviving chunks, so the
    planted copies collapse to empty (md5('') fingerprints) and the
    boilerplate chunk survives exactly once corpus-wide. Chunk text reduces
    to md5 map-side; full text shuffles once (the doc-keyed rebuild
    join)."""
    d = load_tables(spark, sf_dir)["documents"]
    bp = "terms of service apply to this page all rights reserved contact us for more info "
    corpus = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit(bp), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionAll(
        d.filter(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    res = dedup.dedup_chunks_keep_first(corpus, chunk_tokens=15)
    return res.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        "n_tokens_kept",
        F.md5("residual_text").alias("residual_fp"),
    )


@query(
    "llm_balanced_shards",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
      FROM documents
    ), r AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
      FROM w
    )
    SELECT CAST((rank - 1) % 8 AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(min(rank) AS BIGINT) AS first_rank
    FROM r GROUP BY 1
    """,
    tags=("llm", "curation", "sharding"),
)
def llm_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced training-shard assignment (llm.curation.balanced_shards):
    rank the corpus by (token count desc, id) with the two-phase
    distributed rank — per-(weight, id-block) parallel window ranks plus
    broadcast bucket base offsets, never a single-partition global window —
    and deal ranks round-robin over 8 shards (longest-processing-time:
    per-shard token totals stay within one max-document). Audited per
    shard: doc count, token total, id checksum, first rank."""
    d = load_tables(spark, sf_dir)["documents"]
    w = d.select("doc_id", text.token_count("text").alias("n_tokens"))
    sharded = curation.balanced_shards(w, n_shards=8, weight_col="n_tokens")
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("doc_id").alias("id_checksum"),
        F.min("rank").alias("first_rank"),
    )


@query(
    "llm_top_ngram_fraction",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), big AS (
      SELECT doc_id, t[u.i + 1] || ' ' || t[u.i + 2] AS ngram
      FROM toks, unnest(range(len(t) - 1)) AS u(i)
    ), cnt AS (
      SELECT doc_id, ngram, count(*) AS cnt FROM big GROUP BY doc_id, ngram
    ), ranked AS (
      SELECT doc_id, ngram, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY doc_id) AS BIGINT) AS n_ngrams,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, ngram) AS rn
      FROM cnt
    )
    SELECT doc_id, n_ngrams, ngram AS top_ngram,
           CAST(cnt AS BIGINT) AS top_count,
           CAST(cnt AS DOUBLE) / n_ngrams AS top_frac
    FROM ranked WHERE rn = 1
    """,
    tags=("llm", "text", "quality", "gopher"),
)
def llm_top_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher top-bigram dominance filter (llm.text.top_ngram_fraction,
    Rae et al. 2021 table A1): per document, the share of bigram
    occurrences claimed by the single most frequent bigram — degenerate /
    boilerplate text scores high where repetition_stats' dup fractions
    measure breadth, not dominance. Lambda-free arrays_zip n-gram
    expansion (codegen), one (id, ngram) shuffle, WindowGroupLimit
    argmax; count ties break on the lexicographically smallest bigram."""
    d = load_tables(spark, sf_dir)["documents"]
    return text.top_ngram_fraction(d, n=2)


@query(
    "llm_two_stage_rerank",
    oracle="""
    WITH q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= 5
    ), qq AS (
      SELECT vec_id,
             list_transform(v, x -> greatest(-127.0, least(127.0,
               floor(x * (CASE WHEN m = 0.0 THEN 1.0 ELSE 127.0 / m END))))) AS qv
      FROM (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
            FROM q)
    ), qc AS (
      SELECT vec_id,
             list_transform(v, x -> greatest(-127.0, least(127.0,
               floor(x * (CASE WHEN m = 0.0 THEN 1.0 ELSE 127.0 / m END))))) AS qv
      FROM (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
            FROM c)
    ), cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qq.vec_id AS query_id, qc.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY qq.vec_id
                 ORDER BY list_dot_product(qc.qv, qq.qv)
                          / (sqrt(list_dot_product(qc.qv, qc.qv))
                             * sqrt(list_dot_product(qq.qv, qq.qv))) DESC,
                          qc.vec_id
               ) AS rank
        FROM qc CROSS JOIN qq
      ) WHERE rank <= 30
    )
    SELECT query_id, neighbor_id, rank FROM (
      SELECT cand.query_id, cand.neighbor_id,
             row_number() OVER (
               PARTITION BY cand.query_id
               ORDER BY list_cosine_similarity(c.v, q.v) DESC, cand.neighbor_id
             ) AS rank
      FROM cand
      JOIN c ON cand.neighbor_id = c.vec_id
      JOIN q ON cand.query_id = q.vec_id
    ) WHERE rank <= 10
    """,
    tags=("llm", "similarity", "ann", "rerank", "bench"),
)
def llm_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN serving (llm.similarity.rerank_topk): int8-quantized
    candidate generation (top-30 per query — integer arithmetic, scores
    bit-identical cross-engine) followed by exact float-cosine re-rank of
    just the shortlist, emitting the final top-10. The coarse-then-precise
    layout quantized indexes ship with: the corpus scan reads ¼ the bytes,
    floats are fetched only for candidate_k rows per query. Final ranks
    are engine-stable (random 64-d vectors never near-tie; residual ties
    break on neighbor id both sides)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    corpus, queries = e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5)
    return similarity.rerank_topk(corpus, queries, k=10, candidate_k=30)


@query(
    "llm_cross_dedup_incremental",
    oracle=r"""
    WITH newt AS (
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(t[1 : len(t) - 1], ' ') AS text
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE doc_id < 30)
      UNION ALL
      SELECT doc_id + 4000000 AS doc_id,
             array_to_string(list_reverse(t), ' ') AS text
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE doc_id >= 200 AND doc_id < 230)
    ), sn AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM newt)
    ), sr AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
    )
    SELECT n.doc_id AS new_id, r.doc_id AS ref_id,
           CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(n.sh, r.sh))) AS jaccard
    FROM sn n CROSS JOIN sr r
    WHERE len(n.sh) >= 1 AND len(r.sh) >= 1
      AND CAST(len(list_intersect(n.sh, r.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(n.sh, r.sh))) >= 0.8
    """,
    tags=("llm", "dedup", "minhash", "incremental"),
)
def llm_cross_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl-ingest near-dedup (llm.dedup
    .minhash_lsh_pairs_cross): a NEW batch — 30 docs that are existing
    docs minus their last token (true near-dups) plus 30 word-REVERSED
    docs (trigram-destroyed, must NOT pair) — is LSH-bucket-joined against
    the standing corpus index; no new×new or ref×ref candidates are ever
    generated. The oracle is the exhaustive exact-Jaccard new×ref scan at
    the same 0.8 threshold, so both LSH misses and false survivors fail
    the hash."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    dropped = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )
    reversed_ = d.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 230)).select(
        (F.col("doc_id") + 4000000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(toks)).alias("text"),
    )
    new_batch = dropped.unionAll(reversed_)
    return dedup.minhash_lsh_pairs_cross(
        new_batch, d, num_hashes=32, bands=16, threshold=0.8
    )


@query(
    "llm_length_trim",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) AS n_tokens
      FROM documents
    ), q AS (
      SELECT quantile_cont(n_tokens, 0.25) AS q1,
             quantile_cont(n_tokens, 0.75) AS q3
      FROM w
    )
    SELECT w.source,
           CAST(count(*) AS BIGINT) AS n_docs_total,
           CAST(sum(CASE WHEN w.n_tokens >= q.q1 AND w.n_tokens <= q.q3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
           CAST(sum(CASE WHEN w.n_tokens >= q.q1 AND w.n_tokens <= q.q3
                         THEN w.doc_id END) AS BIGINT) AS kept_id_checksum,
           q.q1 AS q1_tokens, q.q3 AS q3_tokens
    FROM w CROSS JOIN q
    GROUP BY w.source, q.q1, q.q3
    """,
    tags=("llm", "curation", "percentile"),
)
def llm_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interquartile length trim (the standard too-short/too-long document
    filter expressed as exact corpus percentiles): keep documents whose
    token count lies within [p25, p75], reported per source with id
    checksums and the thresholds themselves. Exactness: token counts are
    integers and quarter-fraction ranks interpolate exactly in float64, so
    Spark `percentile` and DuckDB `quantile_cont` agree bitwise (same
    argument as window_percentile_exact). Plan: one map-side token count,
    a two-double global aggregate broadcast back, then one per-source
    count — the corpus never shuffles by length."""
    d = load_tables(spark, sf_dir)["documents"]
    w = d.select("doc_id", "source", text.token_count("text").alias("n_tokens"))
    q = w.agg(
        F.percentile("n_tokens", F.lit(0.25)).alias("q1_tokens"),
        F.percentile("n_tokens", F.lit(0.75)).alias("q3_tokens"),
    )
    kept = (F.col("n_tokens") >= F.col("q1_tokens")) & (
        F.col("n_tokens") <= F.col("q3_tokens")
    )
    return (
        w.crossJoin(F.broadcast(q))
        .groupBy("source", "q1_tokens", "q3_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs_total"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("doc_id"))).alias("kept_id_checksum"),
        )
        .select(
            "source",
            "n_docs_total",
            "n_docs_kept",
            "kept_id_checksum",
            "q1_tokens",
            "q3_tokens",
        )
    )


@query(
    "llm_epoch_plan",
    oracle=r"""
    WITH w AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), t AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             list_aggregate(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
                            'sum') AS norm
      FROM w
    )
    SELECT w.source, w.n_docs, w.n_tokens,
           sqrt(CAST(w.n_tokens AS DOUBLE)) / t.norm AS p_mix,
           CAST(4 * t.total_tokens AS DOUBLE)
             * (sqrt(CAST(w.n_tokens AS DOUBLE)) / t.norm)
             / CAST(w.n_tokens AS DOUBLE) AS epochs_needed,
           CAST(4 * t.total_tokens AS DOUBLE)
             * (sqrt(CAST(w.n_tokens AS DOUBLE)) / t.norm)
             / CAST(w.n_tokens AS DOUBLE) > 4.0 AS over_uniform
    FROM w CROSS JOIN t
    """,
    tags=("llm", "curation", "mixture", "planning"),
)
def llm_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-factor planning audit (llm.curation.temperature_epoch_plan):
    with a budget of 4× the corpus tokens and a T=0.5 temperature mixture,
    how many epochs must each source replay, and which sources repeat
    beyond uniform. The mixture normalizer Σ sqrt(n_s) folds in SORTED
    order on both engines — the one order-dependent float sum in the
    query, made deterministic instead of being dodged (cf. the relative
    weights in llm_source_temperature_mix)."""
    d = load_tables(spark, sf_dir)["documents"]
    return curation.temperature_epoch_plan(d, budget_multiple=4)


@query(
    "llm_ccnet_buckets",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ), b AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i+1])) AS ngram
      FROM t WHERE len(t) >= 2
    ), db AS (
      SELECT doc_id, ngram, count(*) AS cnt FROM b GROUP BY doc_id, ngram
    ), cb AS (
      SELECT ngram, CAST(SUM(cnt) AS BIGINT) AS c_bg,
             string_split(ngram, ' ')[1] AS w1
      FROM db GROUP BY ngram
    ), cp AS (
      SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1 FROM cb GROUP BY w1
    ), q AS (
      SELECT cb.ngram,
             CAST(floor((CAST(cb.c_bg AS DOUBLE) / cp.c_w1)
                        * CAST(1048576 AS DOUBLE)) AS BIGINT) AS pq
      FROM cb JOIN cp USING (w1)
    ), sc AS (
      SELECT db.doc_id,
             CAST(SUM(db.cnt * q.pq) AS BIGINT)
               // CAST(SUM(db.cnt) AS BIGINT) AS avg_q
      FROM db JOIN q USING (ngram) GROUP BY db.doc_id
    ), r AS (
      SELECT doc_id, avg_q,
             row_number() OVER (ORDER BY avg_q DESC, doc_id) AS rank,
             count(*) OVER () AS n_total
      FROM sc
    )
    SELECT CASE ((rank - 1) * 3) // n_total
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(min(avg_q) AS BIGINT) AS min_avg_q,
           CAST(max(avg_q) AS BIGINT) AS max_avg_q
    FROM r GROUP BY 1
    """,
    tags=("llm", "curation", "lm-score", "ccnet"),
)
def llm_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail selection (Wenzek et al. 2020): rank every
    document by its bigram-LM quality score and cut the corpus into score
    tertiles — the step that keeps 'head' for pretraining. Composition of
    two verified kernels: retrieval.bigram_lm_score's exact-int score_q
    (quantized 2^-20 probabilities → bigint sums) divided down to an
    integer per-doc avg_q, then curation.balanced_shards' two-phase
    distributed rank over it — the bucket-base table is bounded by the
    2^20 quantization lattice, never corpus-sized, so no global
    single-partition window anywhere. Tertile = ((rank-1)*3) div n, all
    integer arithmetic; ties rank by doc id on both engines."""
    d = load_tables(spark, sf_dir)["documents"]
    scored = retrieval.bigram_lm_score(d).select(
        "doc_id", F.expr("score_q div n_bigrams").alias("avg_q")
    )
    # ranked feeds the total agg and the bucket projection — materialize
    # once or the full LM + two-phase-rank pipeline runs twice (guide §3.3)
    ranked = curation.balanced_shards(
        scored, n_shards=3, weight_col="avg_q"
    ).select("doc_id", "avg_q", "rank")
    ranked = plan_checkpoint(ranked)
    tot = ranked.agg(F.count(F.lit(1)).alias("n_total"))
    bucket = F.expr("((rank - 1) * 3) div n_total")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.when(bucket == 0, F.lit("head"))
            .when(bucket == 1, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
            "doc_id",
            "avg_q",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
            F.min("avg_q").alias("min_avg_q"),
            F.max("avg_q").alias("max_avg_q"),
        )
    )


@query(
    "llm_decontaminate_bloom",
    oracle="WITH " + _ngram_cte(7) + """
    , ev AS (SELECT DISTINCT ngram FROM ngd WHERE doc_id % 29 = 0),
    pos AS (
      SELECT DISTINCT
             CAST(('0x' || substring(md5(ngram || '#' || j), 1, 8)) AS BIGINT)
               % 4194304 AS p
      FROM ev, unnest([0, 1, 2]) AS u(j)
    ), tr AS (SELECT doc_id, ngram FROM ngd WHERE doc_id % 29 <> 0),
    trpos AS (
      SELECT doc_id, ngram,
             CAST(('0x' || substring(md5(ngram || '#' || j), 1, 8)) AS BIGINT)
               % 4194304 AS p
      FROM tr, unnest([0, 1, 2]) AS u(j)
    ),
    probe AS (
      SELECT t.doc_id, t.ngram,
             SUM(CASE WHEN pos.p IS NULL THEN 0 ELSE 1 END) AS n_set
      FROM trpos t LEFT JOIN pos ON pos.p = t.p
      GROUP BY t.doc_id, t.ngram
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN n_set = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           SUM(CASE WHEN n_set = 3 THEN 1 ELSE 0 END) > 0 AS contaminated
    FROM probe GROUP BY doc_id
    """,
    tags=("llm", "curation", "decontaminate", "bloom"),
)
def llm_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (llm.curation.decontaminate_bloom):
    same eval split as llm_decontaminate (doc_id % 29 stands in for the
    benchmark suite), but the eval 8-grams compress to a 4M-bit bitmap
    (k=3 md5-derived hash positions) that every train document probes —
    the constant-broadcast-size scale path. The oracle reproduces the
    EXACT filter semantics, false positives included, by testing each
    train n-gram's 3 positions against the eval position set."""
    d = load_tables(spark, sf_dir)["documents"]
    ev = d.where(F.col("doc_id") % 29 == 0)
    tr = d.where(F.col("doc_id") % 29 != 0)
    return curation.decontaminate_bloom(tr, ev, n=8, m_bits=1 << 22, k=3)


@query(
    "llm_mixture_realize",
    oracle=r"""
    WITH w AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), t AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             list_aggregate(list_sort(list(sqrt(CAST(n_tokens AS DOUBLE)))),
                            'sum') AS norm
      FROM w
    ), plan AS (
      SELECT w.source,
             CAST(4 * t.total_tokens AS DOUBLE)
               * (sqrt(CAST(w.n_tokens AS DOUBLE)) / t.norm)
               / CAST(w.n_tokens AS DOUBLE) AS epochs_needed
      FROM w CROSS JOIN t
    ), d AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) AS nt,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) / CAST(4294967296 AS DOUBLE) AS draw
      FROM documents
    ), c AS (
      SELECT d.source, d.nt, plan.epochs_needed,
             CAST(floor(plan.epochs_needed)
                  + CASE WHEN d.draw < plan.epochs_needed
                                        - floor(plan.epochs_needed)
                         THEN 1 ELSE 0 END AS BIGINT) AS copies
      FROM d JOIN plan ON d.source = plan.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(copies) AS BIGINT) AS realized_docs,
           CAST(sum(copies * nt) AS BIGINT) AS realized_tokens,
           epochs_needed
    FROM c GROUP BY source, epochs_needed
    """,
    tags=("llm", "curation", "mixture", "sampling"),
)
def llm_mixture_realize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized temperature mixture (llm.curation.realize_mixture):
    llm_epoch_plan's fractional per-source epochs become integer per-doc
    copy counts via md5-deterministic stochastic rounding, and the
    realized per-source doc/token totals are audited against the plan.
    Every decision is a comparison between bit-stable doubles (sorted-fold
    epochs, power-of-two-division draws), so both engines replicate the
    sampling exactly."""
    d = load_tables(spark, sf_dir)["documents"]
    return curation.realize_mixture(d, budget_multiple=4)


@query(
    "llm_containment_filter",
    oracle="""
    WITH sliced AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
      WHERE doc_id < 30
    ), corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, array_to_string(t[6:25], ' ') AS text
      FROM sliced WHERE len(t) >= 25
    ), tok AS (
      SELECT doc_id, text,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM corpus
    ), inner_ids AS (
      SELECT DISTINCT a.doc_id
      FROM tok a JOIN tok b ON a.doc_id <> b.doc_id
      WHERE a.n_tokens >= 6
        AND length(a.text) < length(b.text)
        AND contains(b.text, a.text)
    )
    SELECT CAST(c.doc_id >= 2000000 AS BOOLEAN) AS is_planted,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN i.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN i.doc_id IS NULL THEN c.doc_id END) AS BIGINT)
             AS kept_id_checksum
    FROM corpus c LEFT JOIN inner_ids i ON c.doc_id = i.doc_id
    GROUP BY 1
    """,
    tags=("llm", "dedup", "containment", "transform"),
)
def llm_containment_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup as a corpus FILTER: every document whose text is
    verbatim inside a strictly longer document is dropped (the RefinedWeb
    removal step, composed from containment_pairs' verified inner ids via
    one anti join). Same planted corpus as llm_containment_dedup; the
    audit shows all 30 planted slices removed and counts any organic
    containments among the originals."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    planted = (
        d.filter(F.col("doc_id") < 30)
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 25)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat_ws(" ", F.slice(F.col("t"), 6, 20)).alias("text"),
        )
    )
    corpus = d.select("doc_id", "text").unionAll(planted)
    inner = dedup.containment_pairs(corpus).select(
        F.col("inner_id").alias("doc_id")
    ).distinct()
    kept_flag = F.col("_in").isNull()
    return (
        corpus.join(inner.withColumn("_in", F.lit(1)), "doc_id", "left")
        .groupBy((F.col("doc_id") >= 2000000).alias("is_planted"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept_flag, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept_flag, F.col("doc_id"))).alias("kept_id_checksum"),
        )
    )


@query(
    "llm_hard_negatives",
    oracle="""
    SELECT anchor_id, negative_id, rank FROM (
      SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                               CAST(a.embedding AS DOUBLE[])) DESC,
                        c.vec_id
             ) AS rank
      FROM embeddings c
      CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 25) a
      WHERE c.vec_id >= 25 AND c.label <> a.label
    ) r WHERE rank <= 8
    """,
    tags=("llm", "similarity", "contrastive", "mining"),
)
def llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (llm.similarity.hard_negatives): for each of 25 anchor vectors, the 8
    most cosine-similar corpus vectors with a DIFFERENT label — the
    near-boundary negatives that make embedding training converge, vs the
    random negatives of llm_contrastive_pairs. Anchor labels ride the
    broadcast anchor matrix so the label mask is one vectorized comparison
    per Arrow batch (no join, no extra shuffle); output pins integer ranks
    only (cosine ULP discipline of llm_ann_topk)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return similarity.hard_negatives(
        corpus=e.filter(F.col("vec_id") >= 25),
        anchors=e.filter(F.col("vec_id") < 25),
        k=8,
    ).select("anchor_id", "negative_id", "rank")


def _pagerank_oracle(iters: int = 3, q_bits: int = 30) -> str:
    """Unrolled integer-PageRank oracle over the rare-16-gram dup graph
    (generated once at import; pure integer `//` arithmetic mirrors
    curation.pagerank_int exactly)."""
    s_scale = 1 << q_bits
    ctes = [
        "WITH " + _ngram_cte(15),
        ", rare AS (SELECT ngram FROM ngd GROUP BY ngram HAVING count(*) <= 100)",
        """, e0 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM ngd a JOIN ngd b USING (ngram) JOIN rare USING (ngram)
           WHERE a.doc_id < b.doc_id)""",
        ", e AS (SELECT da AS s, db AS d FROM e0 UNION SELECT db, da FROM e0)",
        ", deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY s)",
        ", v AS (SELECT s AS id FROM deg)",
        ", nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v)",
        f", r0 AS (SELECT id, CAST({s_scale} // n AS BIGINT) AS rq FROM v CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f""", s{i} AS (
        SELECT e.d, CAST(SUM(r{i-1}.rq // deg.deg) AS BIGINT) AS sin
        FROM e JOIN deg USING (s) JOIN r{i-1} ON r{i-1}.id = e.s
        GROUP BY e.d)"""
        )
        ctes.append(
            f""", r{i} AS (
        SELECT v.id,
               CAST(({3 * s_scale} // (20 * nn.n))
                    + (17 * COALESCE(s{i}.sin, 0)) // 20 AS BIGINT) AS rq
        FROM v CROSS JOIN nn LEFT JOIN s{i} ON v.id = s{i}.d)"""
        )
    return "\n".join(ctes) + f"""
    SELECT id AS doc_id, rq AS rank_q FROM r{iters}
    """


@query(
    "llm_pagerank_centrality",
    oracle=_pagerank_oracle(),
    tags=("llm", "curation", "graph", "pagerank"),
)
def llm_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the duplicate-candidate graph
    (curation.pagerank_int, 3 iterations): ranks every node of the shared
    rare-16-gram graph so cluster representatives can be chosen by
    connectivity instead of min-id. Damping is the exact rational 17/20 on
    a 2^30 integer rank scale — every update is integer division and
    integer sums, NO float op at all, so the oracle hash is exact by
    construction (the distributed-PageRank determinism trick)."""
    d = load_tables(spark, sf_dir)["documents"]
    edges = curation.shared_ngram_edges(d, n=16, max_df=100)
    return curation.pagerank_int(edges, iters=3).select(
        F.col("id").alias("doc_id"), "rank_q"
    )


def _lsh_band_curve_oracle(num_hashes: int = 16) -> str:
    """Oracle for llm_lsh_band_curve — the md5-minhash corpus of
    _md5_minhash_oracle plus, per band config (b,r), the analytic S-curve
    detection probability 1-(1-j^r)^b at j = est_matches/16 (explicit
    squaring chains — every op a single IEEE double op) and the OBSERVED
    band collision (any band of r consecutive hash slots fully equal)."""
    sig_cols = ",\n".join(
        f"        min(md5('{i}:' || sh)) AS m{i}" for i in range(num_hashes)
    )
    matches = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )

    def band_hit(r: int) -> str:
        bands = []
        for s in range(0, num_hashes, r):
            bands.append(
                "(" + " AND ".join(f"a.m{i} = b.m{i}" for i in range(s, s + r)) + ")"
            )
        return "(" + " OR ".join(bands) + ")"

    def sq(x: str, k: int) -> str:
        for _ in range(k):
            x = f"({x} * {x})"
        return x

    def pq(b: int, r: int) -> str:
        j = f"(CAST(est_matches AS DOUBLE) / {num_hashes})"
        jr = sq(j, r.bit_length() - 1)
        cb = sq(f"(1.0 - {jr})", b.bit_length() - 1)
        return f"CAST(floor((1.0 - {cb}) * 1048576.0) AS BIGINT)"

    configs = [(16, 1), (8, 2), (4, 4), (2, 8)]
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT doc_id, CAST({b} AS INTEGER) AS bands,
           CAST({r} AS INTEGER) AS rows_per_band, est_matches,
           {pq(b, r)} AS detect_prob_q, hit_{b}_{r} AS band_hit FROM joined"""
        for b, r in configs
    )
    hits = ",\n".join(
        f"           {band_hit(r)} AS hit_{b}_{r}" for b, r in configs
    )
    return f"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id < 50
    ), near AS (
      SELECT doc_id, array_to_string(t[1:len(t)-1], ' ') AS text FROM base
    ), corpus AS (
      SELECT doc_id, text, 'a' AS side FROM documents WHERE doc_id < 50
      UNION ALL
      SELECT doc_id, text, 'b' AS side FROM near
    ), sh AS (
      SELECT doc_id, side,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
      FROM (SELECT doc_id, side, string_split_regex(trim(text), '\\s+') AS t FROM corpus)
    ), sig AS (
      SELECT doc_id, side,
{sig_cols}
      FROM sh GROUP BY doc_id, side
    ), joined AS (
      SELECT a.doc_id AS doc_id,
             CAST(({matches}) AS BIGINT) AS est_matches,
{hits}
      FROM sig a JOIN sig b ON a.doc_id = b.doc_id AND a.side = 'a' AND b.side = 'b'
    )
{arms}
    """


@query(
    "llm_lsh_band_curve",
    oracle=_lsh_band_curve_oracle(),
    tags=("llm", "dedup", "minhash", "lsh", "qa"),
)
def llm_lsh_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-parameter audit (the S-curve table a dedup pipeline
    reads before picking bands×rows): for 50 planted near-dup pairs and
    every (b,r) split of the 16-hash MinHash signature — (16,1), (8,2),
    (4,4), (2,8) — emit the ANALYTIC detection probability
    1-(1-j^r)^b at the estimated Jaccard j = matches/16, and the OBSERVED
    band collision (would bucketing at that config have caught the pair).
    j is an exact /16 division and the powers are explicit squaring
    chains, so the quantized probability is bitwise-deterministic; band
    hits are boolean algebra over hash-slot equality.

    100 TB: signatures are the same 16 conditional mins as
    llm_minhash_est_error (one doc-keyed shuffle); the curve itself is
    4 constant-width projections of the pair frame — audit cost is
    O(pairs), nothing corpus-sized."""
    num_hashes = 16
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.filter(F.col("doc_id") < 50).select("doc_id", "text")
    near = d.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )

    def sig(frame: DataFrame, suffix: str) -> DataFrame:
        sh = frame.select(
            "doc_id",
            F.explode(F.array_distinct(dedup.shingles("text", 3))).alias("sh"),
        )
        return sh.groupBy("doc_id").agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(
                    f"m{i}{suffix}"
                )
                for i in range(num_hashes)
            ]
        )

    joined = sig(base, "a").join(sig(near, "b"), "doc_id")
    est = None
    for i in range(num_hashes):
        m = F.when(F.col(f"m{i}a") == F.col(f"m{i}b"), 1).otherwise(0)
        est = m if est is None else est + m
    cols = [F.col("doc_id"), est.cast("bigint").alias("est_matches")]
    configs = [(16, 1), (8, 2), (4, 4), (2, 8)]
    for b, r in configs:
        bands = []
        for s in range(0, num_hashes, r):
            band = None
            for i in range(s, s + r):
                eq = F.col(f"m{i}a") == F.col(f"m{i}b")
                band = eq if band is None else band & eq
            bands.append(band)
        hit = bands[0]
        for x in bands[1:]:
            hit = hit | x
        cols.append(hit.alias(f"hit_{b}_{r}"))
    pairs = joined.select(*cols)

    def sq(c, k: int):
        for _ in range(k):
            c = c * c
        return c

    arms = []
    for b, r in configs:
        j = F.col("est_matches").cast("double") / F.lit(num_hashes)
        jr = sq(j, r.bit_length() - 1)
        cb = sq(F.lit(1.0) - jr, b.bit_length() - 1)
        p = F.lit(1.0) - cb
        arms.append(
            pairs.select(
                "doc_id",
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                "est_matches",
                F.floor(p * F.lit(1048576.0)).cast("bigint").alias("detect_prob_q"),
                F.col(f"hit_{b}_{r}").alias("band_hit"),
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out


@query(
    "llm_classifier_auc",
    oracle="""
    WITH by_score AS (
      SELECT n_chars AS s,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n
      FROM documents GROUP BY n_chars
    ), cum AS (
      SELECT p, n,
             COALESCE(SUM(n) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_less
      FROM by_score
    )
    SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
           CAST(SUM(n) AS BIGINT) AS n_neg,
           CAST(2 * SUM(p * n_less) + SUM(p * n) AS BIGINT) AS auc_num,
           CAST(2 * SUM(p * n_less) + SUM(p * n) AS DOUBLE)
             / (2.0 * (CAST(SUM(p) AS DOUBLE) * CAST(SUM(n) AS DOUBLE))) AS auc
    FROM cum
    """,
    tags=("llm", "stats", "evaluation", "auc"),
)
def llm_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC (stats.binary_auc — tie-corrected Mann–Whitney in pure
    integer arithmetic until one final division): does document length
    predict lang='en'? The evaluation primitive every quality-classifier
    pipeline needs, computed distributedly: one groupBy(score) collapse,
    one bounded window over distinct scores, one row out. auc_num = 2C+T
    is an exact bigint, so the driver hash is exact."""
    d = load_tables(spark, sf_dir)["documents"]
    return stats.binary_auc(
        d.select(F.col("n_chars"), (F.col("lang") == "en").alias("is_en")),
        score_col="n_chars",
        label_col="is_en",
    )


@query(
    "llm_ks_length_drift",
    oracle="""
    WITH per_val AS (
      SELECT len(string_split_regex(trim(text), '\\s+')) AS v,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM documents WHERE source IN ('src0', 'src1')
      GROUP BY 1
    ), cum AS (
      SELECT SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
      FROM per_val
    ), tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS n_a, CAST(SUM(cb) AS BIGINT) AS n_b FROM per_val
    )
    SELECT max(n_a) AS n_a, max(n_b) AS n_b,
           CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num,
           CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
             / (CAST(max(n_a) AS DOUBLE) * CAST(max(n_b) AS DOUBLE)) AS ks_stat
    FROM cum CROSS JOIN tot
    """,
    tags=("llm", "stats", "drift", "ks"),
)
def llm_ks_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between src0 and src1
    document-length distributions (stats.ks_statistic): D = max ECDF gap
    computed as integer cross-multiplication |cum_a·n_b − cum_b·n_a| over
    merged distinct lengths, divided exactly once — the distribution-level
    drift check complementing llm_vocab_drift's token-level chi-square."""
    d = load_tables(spark, sf_dir)["documents"]
    base = d.select(
        "source", text.token_count("text").alias("n_tok")
    )
    return stats.ks_statistic(base, "n_tok", "source", "src0", "src1")


@query(
    "llm_dup_graph_stats",
    oracle="WITH " + _ngram_cte(15) + """
    , rare AS (SELECT ngram FROM ngd GROUP BY ngram HAVING count(*) <= 100),
    e0 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM ngd a JOIN ngd b USING (ngram) JOIN rare USING (ngram)
           WHERE a.doc_id < b.doc_id),
    deg AS (
      SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT da AS v FROM e0 UNION ALL SELECT db FROM e0
      ) GROUP BY v
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM e0 e1 JOIN e0 e2 ON e1.db = e2.da
      JOIN e0 e3 ON e1.da = e3.da AND e2.db = e3.db
    ),
    summ AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(max(deg) AS BIGINT) AS max_degree,
             CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
      FROM deg
    ),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0)
    SELECT n_nodes, n_edges, max_degree, n_triangles, n_wedges,
           CASE WHEN n_wedges > 0 THEN
             (3.0 * CAST(n_triangles AS DOUBLE)) / CAST(n_wedges AS DOUBLE)
           END AS clustering
    FROM summ CROSS JOIN ne CROSS JOIN tri
    """,
    tags=("llm", "curation", "graph", "qa"),
)
def llm_dup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural health check of the dedup candidate graph
    (curation.graph_stats over the rare-16-gram edges): node/edge counts,
    max degree, exact triangle count via the ordered two-join enumeration,
    wedge count and global clustering coefficient. High clustering means
    the LSH buckets found coherent duplicate groups; a near-zero value on
    a dense graph means boilerplate fan-out. All counting is integer-exact
    with one closing division."""
    d = load_tables(spark, sf_dir)["documents"]
    edges = curation.shared_ngram_edges(d, n=16, max_df=100)
    return curation.graph_stats(edges)


@query(
    "llm_pareto_quality_length",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
              + CASE WHEN stopword_hits > 0 THEN 1 ELSE 0 END
              + CASE WHEN alpha_chars * 2 > n_chars THEN 1 ELSE 0 END) AS quality_score,
             n_tokens
      FROM (
        SELECT doc_id, length(text) AS n_chars,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
               len(list_intersect(string_split_regex(trim(text), '\\s+'),
                   ['the','and','of','to','a','in','is','it','you','that'])) AS stopword_hits,
               length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
        FROM documents
      )
    )
    SELECT doc_id, quality_score, n_tokens FROM base a
    WHERE NOT EXISTS (
      SELECT 1 FROM base b
      WHERE b.quality_score >= a.quality_score AND b.n_tokens >= a.n_tokens
        AND (b.quality_score > a.quality_score OR b.n_tokens > a.n_tokens)
    )
    """,
    tags=("llm", "curation", "skyline"),
)
def llm_pareto_quality_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE operator (curation.pareto_front, Börzsönyi et al. 2001): the
    Pareto-optimal documents maximizing (quality_score, n_tokens) — no
    other document is at least as good on both axes and better on one.
    The Spark plan is one groupBy to distinct-x maxima, a bounded window
    for the strict running max, and one broadcast semi-join back — never
    the quadratic NOT EXISTS the oracle uses to define the semantics."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stop = F.array(*[F.lit(s) for s in
                     ["the", "and", "of", "to", "a", "in", "is", "it", "you", "that"]])
    base = d.select(
        "doc_id",
        (
            F.when(F.size(toks).between(10, 1000), 1).otherwise(0)
            + F.when(F.size(F.array_intersect(toks, stop)) > 0, 1).otherwise(0)
            + F.when(
                F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) * 2
                > F.length("text"),
                1,
            ).otherwise(0)
        ).alias("quality_score"),
        F.size(toks).cast("bigint").alias("n_tokens"),
    )
    return curation.pareto_front(base, "quality_score", "n_tokens")


@query(
    "llm_url_canonical_dedup",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             'HTTP://Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM'
             || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END
             || '/p/' || CAST(doc_id % 40 AS VARCHAR)
             || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
             || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&a=1&b=2'
                     ELSE '?b=2&a=1&utm_medium=x' END
             || '#sec' || CAST(doc_id % 4 AS VARCHAR) AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
             || '://'
             || lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1))
             || CASE WHEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)', 1) <> ''
                      AND NOT ((lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'http'
                                AND regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)', 1) = '80')
                           OR (lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) = 'https'
                                AND regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)', 1) = '443'))
                THEN ':' || regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)', 1)
                ELSE '' END
             || regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '')
             || CASE WHEN array_to_string(list_sort(list_filter(
                        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                        p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') <> ''
                THEN '?' || array_to_string(list_sort(list_filter(
                        string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                        p -> NOT starts_with(p, 'utm_') AND p <> '')), '&')
                ELSE '' END AS canonical_url
      FROM planted
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM canon GROUP BY canonical_url
    """,
    tags=("llm", "curation", "url", "dedup"),
)
def llm_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dedup after canonicalization (llm.text.canonicalize_url): the
    crawl-pipeline step that collapses scheme/host case, default ports,
    trailing slashes, fragments, utm_* tracking params and query-param
    order before treating URLs as identities. Planted variants (host/path
    keyed on doc_id mod 5/40 plus case/port/slash/param noise) collapse
    to 40 canonical groups; output counts + min-id keeper + checksum per
    group. Column algebra only — one groupBy shuffle on the canonical
    key at any corpus size."""
    d = load_tables(spark, sf_dir)["documents"]
    planted = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTP://Site"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.lit("/p/"),
            (F.col("doc_id") % 40).cast("string"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&a=1&b=2")
            ).otherwise(F.lit("?b=2&a=1&utm_medium=x")),
            F.lit("#sec"),
            (F.col("doc_id") % 4).cast("string"),
        ).alias("url"),
    )
    return (
        planted.select("doc_id", text.canonicalize_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


_HLL_NUM = repr(0.697 * 32 * 32 * 2.0**31)  # alpha_32 * m^2 * 2^31, m = 32


@query(
    "llm_hll_ngram_ndv",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS tk
      FROM documents
    ), g AS (
      SELECT source, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ng
      FROM t, unnest(generate_series(1, len(tk) - 2)) AS u(i)
    ), gg AS (
      SELECT source, ng FROM g
      UNION ALL
      SELECT '__ALL__' AS source, ng FROM g
    ), h AS (
      SELECT source, ng, CAST(('0x' || substring(md5(ng), 1, 15)) AS BIGINT) AS hv
      FROM gg
    ), r AS (
      SELECT source, hv % 32 AS bucket,
             MAX(LEAST(55 - length(bin(hv // 32)) + 1, 31)) AS rho
      FROM h GROUP BY source, hv % 32
    ), f AS (
      SELECT source, CAST(32 - count(*) AS BIGINT) AS v_zero,
             CAST(SUM(1::BIGINT << (31 - rho))
                  + (32 - count(*)) * (1::BIGINT << 31) AS BIGINT) AS s_num
      FROM r GROUP BY source
    ), x AS (
      SELECT source, CAST(count(DISTINCT ng) AS BIGINT) AS exact_ndv
      FROM gg GROUP BY source
    )
    SELECT x.source AS source, exact_ndv, v_zero, s_num,
           {_HLL_NUM} / CAST(s_num AS DOUBLE) AS hll_ndv,
           ({_HLL_NUM} / CAST(s_num AS DOUBLE) - CAST(exact_ndv AS DOUBLE))
             / CAST(exact_ndv AS DOUBLE) AS rel_err
    FROM f JOIN x ON f.source = x.source
    """,
    tags=("llm", "sketch", "ndv", "hll"),
)
def llm_hll_ngram_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog ndv audit (stats.hll_registers/
    hll_merge/hll_estimate): per-source distinct word-3-gram estimates
    plus a '__ALL__' row whose sketch is the register-wise MAX of the
    per-source sketches — the union/merge operation that makes HLL the
    right distinct-counter for 100 TB (per-split sketches of m=32
    registers cross the shuffle, never the n-grams; re-grouping or
    late-arriving splits merge losslessly). Unlike Spark's native
    `approx_count_distinct` (see stats.approx_ndv_accuracy), the md5
    register layout is engine-portable, so the oracle rebuilds identical
    registers and the float estimate hash-matches bit-for-bit (single
    IEEE division of exactly-agreed integers). exact_ndv / rel_err report
    the estimator's true error per group (~18% stddev at m=32)."""
    d = load_tables(spark, sf_dir)["documents"]
    ngs = curation.word_ngram_rows(d, n=3).withColumnRenamed("id", "doc_id")
    # src feeds the register pass and both exact-NDV legs; regs feeds the
    # per-source and merged estimates — materialize each once (guide §3.3)
    src = ngs.join(F.broadcast(d.select("doc_id", "source")), "doc_id").select(
        "source", "ngram"
)
    src = plan_checkpoint(src)
    regs = plan_checkpoint(stats.hll_registers(src, "ngram", ["source"], p=5))
    per = stats.hll_estimate(regs, ["source"], p=5)
    glob = stats.hll_estimate(stats.hll_merge(regs, []), [], p=5).select(
        F.lit("__ALL__").alias("source"), "v_zero", "s_num", "hll_ndv"
    )
    est = per.unionByName(glob)
    exact = src.groupBy("source").agg(F.count_distinct("ngram").alias("exact_ndv"))
    exact_g = src.agg(F.count_distinct("ngram").alias("exact_ndv")).select(
        F.lit("__ALL__").alias("source"), "exact_ndv"
    )
    ex = exact.unionByName(exact_g)
    return est.join(ex, "source").select(
        "source", "exact_ndv", "v_zero", "s_num", "hll_ndv",
        (
            (F.col("hll_ndv") - F.col("exact_ndv").cast("double"))
            / F.col("exact_ndv").cast("double")
        ).alias("rel_err"),
    )


def _kmeans_oracle(
    k: int = 8, iters: int = 2, dims: int = 64, scale: int = 1024,
    curve: bool = False,
) -> str:
    """Unrolled Lloyd iterations in plain SQL: assignment = argmin of exact
    integer squared distance (ties -> lowest cid), update = floor(sum/cnt)
    per dimension, empty clusters keep the previous centroid. With
    ``curve=True`` the final select is the per-iteration total-inertia
    curve (iter i = inertia of the assignment against the i-times-updated
    centroids) instead of the per-cluster summary."""
    def dist_cte(dname: str, cname: str) -> str:
        return f"""
    {dname} AS (
      SELECT e.vec_id, e.q, {cname}.cid,
             list_aggregate(list_transform(generate_series(1, {dims}),
                 i -> (e.q[i] - {cname}.c[i]) * (e.q[i] - {cname}.c[i])), 'sum') AS d2
      FROM e CROSS JOIN {cname}
    )"""

    def assign_cte(aname: str, dname: str) -> str:
        return f"""
    {aname} AS (
      SELECT vec_id, q, cid, d2 FROM (
        SELECT vec_id, q, cid, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rk
        FROM {dname}
      ) WHERE rk = 1
    )"""

    def update_cte(mname: str, aname: str, cprev: str, cname: str) -> str:
        return f"""
    {mname} AS (
      SELECT cid, i, CAST(floor(CAST(SUM(q[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
      FROM {aname}, unnest(generate_series(1, {dims})) AS u(i)
      GROUP BY cid, i
    ), {cname} AS (
      SELECT {cprev}.cid, COALESCE(n.c, {cprev}.c) AS c
      FROM {cprev} LEFT JOIN
           (SELECT cid, list(v ORDER BY i) AS c FROM {mname} GROUP BY cid) n
           USING (cid)
    )"""

    parts = [
        f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {scale}) AS BIGINT)) AS q
      FROM embeddings
    ), c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
      FROM e ORDER BY vec_id LIMIT {k}
    )"""
    ]
    for it in range(iters):
        parts.append("," + dist_cte(f"d{it}", f"c{it}"))
        parts.append("," + assign_cte(f"a{it}", f"d{it}"))
        parts.append("," + update_cte(f"m{it}", f"a{it}", f"c{it}", f"c{it + 1}"))
    parts.append("," + dist_cte("dfin", f"c{iters}"))
    parts.append("," + assign_cte("afin", "dfin"))
    if curve:
        names = [f"a{i}" for i in range(iters)] + ["afin"]
        rows = " UNION ALL ".join(
            f"""
      SELECT CAST({i} AS BIGINT) AS iter,
             CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(SUM(d2) AS BIGINT) AS inertia
      FROM {name}"""
            for i, name in enumerate(names)
        )
        parts.append(f"SELECT * FROM ({rows})")
    else:
        parts.append("""
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(vec_id) AS BIGINT) AS id_checksum,
           CAST(SUM(d2) AS BIGINT) AS inertia
    FROM afin GROUP BY cid
    """)
    return "".join(parts)


@query(
    "llm_kmeans_clusters",
    oracle=_kmeans_oracle(),
    tags=("llm", "similarity", "clustering", "kmeans", "bench"),
)
def llm_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embeddings table
    (llm.similarity.kmeans_lloyd): k=8 clusters refined for 2 full-corpus
    iterations from deterministic lowest-id seeds. Quantizing by the
    power-of-two scale makes every distance, update and the final inertia
    exact int64, so cluster sizes, membership checksums AND inertia
    hash-match the oracle bit-for-bit — the auditable version of the
    sample-based trainer inside ivf_topk. Per iteration: one Arrow GEMM
    assignment pass (no shuffle) + one k-row partial-sum shuffle + a k x d
    driver sync — the canonical cluster-scale Lloyd loop."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return similarity.kmeans_lloyd(e, k=8, iters=2)


@query(
    "llm_hll_split_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk,
             CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 100 < 90
                  THEN 'train' ELSE 'held' END AS split
      FROM documents
    ), g AS (
      SELECT split, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ng
      FROM t, unnest(generate_series(1, len(tk) - 2)) AS u(i)
    ), gg AS (
      SELECT split, ng FROM g
      UNION ALL
      SELECT '__U__' AS split, ng FROM g
    ), h AS (
      SELECT split, CAST(('0x' || substring(md5(ng), 1, 15)) AS BIGINT) AS hv
      FROM gg
    ), r AS (
      SELECT split, hv % 32 AS bucket,
             MAX(LEAST(55 - length(bin(hv // 32)) + 1, 31)) AS rho
      FROM h GROUP BY split, hv % 32
    ), f AS (
      SELECT split,
             {_HLL_NUM} / CAST(SUM(1::BIGINT << (31 - rho))
                  + (32 - count(*)) * (1::BIGINT << 31) AS DOUBLE) AS est
      FROM r GROUP BY split
    ), x AS (
      SELECT
        (SELECT CAST(count(DISTINCT ng) AS BIGINT) FROM g WHERE split = 'train')
          AS exact_train,
        (SELECT CAST(count(DISTINCT ng) AS BIGINT) FROM g WHERE split = 'held')
          AS exact_held,
        (SELECT CAST(count(*) AS BIGINT) FROM
           (SELECT DISTINCT ng FROM g WHERE split = 'train') a
           JOIN (SELECT DISTINCT ng FROM g WHERE split = 'held') b USING (ng))
          AS exact_inter
    )
    SELECT exact_train, exact_held, exact_inter,
           (SELECT est FROM f WHERE split = 'train') AS est_train,
           (SELECT est FROM f WHERE split = 'held') AS est_held,
           (SELECT est FROM f WHERE split = '__U__') AS est_union,
           (SELECT est FROM f WHERE split = 'train')
             + (SELECT est FROM f WHERE split = 'held')
             - (SELECT est FROM f WHERE split = '__U__') AS est_inter
    FROM x
    """,
    tags=("llm", "sketch", "hll", "dedup"),
)
def llm_hll_split_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (stats.hll_*): estimate the distinct-3-gram overlap
    between the train and held-out splits by inclusion-exclusion —
    |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union sketch is the
    register-wise max of the two split sketches (no third data pass). This
    is the 100 TB cross-corpus contamination smell test: two register sets
    of 32 ints answer "how much does my new crawl overlap the training
    set" without co-shuffling either corpus. Exact distinct counts ride
    alongside so the query doubles as the estimator's error report."""
    d = load_tables(spark, sf_dir)["documents"]
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    docs = d.withColumn(
        "split", F.when(b < 90, F.lit("train")).otherwise(F.lit("held"))
    )
    ngs = curation.word_ngram_rows(docs, n=3).withColumnRenamed("id", "doc_id")
    # g feeds the HLL register pass AND both exact-distinct legs —
    # materialize the Arrow n-gram pass once (guide §3.3); regs feeds the
    # merged and per-split estimates.
    g = ngs.join(
        F.broadcast(docs.select("doc_id", "split")), "doc_id"
    ).select("split", F.col("ngram").alias("ng"))
    g = plan_checkpoint(g)
    regs = plan_checkpoint(stats.hll_registers(g, "ng", ["split"], p=5))
    union_regs = stats.hll_merge(regs, [])
    est = stats.hll_estimate(regs, ["split"], p=5).select("split", "hll_ndv")
    est_u = stats.hll_estimate(union_regs, [], p=5).select(
        F.lit("__U__").alias("split"), "hll_ndv"
    )
    pivoted = (
        est.unionByName(est_u)
        .groupBy()
        .pivot("split", ["train", "held", "__U__"])
        .agg(F.first("hll_ndv"))
        .select(
            F.col("train").alias("est_train"),
            F.col("held").alias("est_held"),
            F.col("__U__").alias("est_union"),
        )
    )
    tr = plan_checkpoint(g.filter(F.col("split") == "train").select("ng").distinct())
    hd = plan_checkpoint(g.filter(F.col("split") == "held").select("ng").distinct())
    exact = (
        tr.agg(F.count(F.lit(1)).alias("exact_train"))
        .crossJoin(hd.agg(F.count(F.lit(1)).alias("exact_held")))
        .crossJoin(tr.join(hd, "ng").agg(F.count(F.lit(1)).alias("exact_inter")))
    )
    return exact.crossJoin(F.broadcast(pivoted)).select(
        "exact_train", "exact_held", "exact_inter",
        "est_train", "est_held", "est_union",
        (F.col("est_train") + F.col("est_held") - F.col("est_union")).alias(
            "est_inter"
        ),
    )


def _pq_oracle(n_sub: int = 8, d_sub: int = 8, n_cent: int = 16, k: int = 10,
               scale: int = 1024) -> str:
    dist = (
        "list_aggregate(list_transform(generate_series(1, {d}), "
        "i -> (a.q[{d} * s.s + i] - cb.c[{d} * s.s + i]) "
        "* (a.q[{d} * s.s + i] - cb.c[{d} * s.s + i])), 'sum')"
    ).format(d=d_sub)
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * {scale}) AS BIGINT)) AS q
      FROM embeddings
    ), cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, q AS c
      FROM e WHERE vec_id >= 5 ORDER BY vec_id LIMIT {n_cent}
    ), s AS (
      SELECT s FROM unnest(generate_series(0, {n_sub - 1})) AS t(s)
    ), encd AS (
      SELECT a.vec_id, s.s, cb.cid, {dist} AS d2
      FROM (SELECT * FROM e WHERE vec_id >= 5) a, s, cb
    ), enc AS (
      SELECT vec_id, s, cid AS code FROM (
        SELECT vec_id, s, cid,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rk
        FROM encd
      ) WHERE rk = 1
    ), lutd AS (
      SELECT a.vec_id AS query_id, s.s, cb.cid, {dist} AS d2
      FROM (SELECT * FROM e WHERE vec_id < 5) a, s, cb
    ), adc AS (
      SELECT l.query_id, enc.vec_id AS neighbor_id, CAST(SUM(l.d2) AS BIGINT) AS d2
      FROM enc JOIN lutd l ON l.s = enc.s AND l.cid = enc.code
      GROUP BY l.query_id, enc.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, d2 FROM (
      SELECT query_id, neighbor_id, d2,
             row_number() OVER (PARTITION BY query_id ORDER BY d2, neighbor_id)
               AS rank
      FROM adc
    ) WHERE rank <= {k}
    """


@query(
    "llm_pq_topk",
    oracle=_pq_oracle(),
    tags=("llm", "similarity", "ann", "pq", "bench"),
)
def llm_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN serving (llm.similarity.pq_adc_topk):
    corpus vectors collapse to 8 one-byte subspace codes against a
    16-centroid codebook, queries score candidates by summed lookup-table
    distances (ADC) — the memory-bounded index layout for billion-vector
    serving, complementing the int8 path (llm_quantized_ann_recall) and
    the cell-probing path (IVF). Exact int64 arithmetic end-to-end, so
    codes, distances and the final ranking hash-match the oracle."""
    e = load_tables(spark, sf_dir)["embeddings"]
    corpus, queries = e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5)
    out = similarity.pq_adc_topk(corpus, queries, k=10)
    return out.select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"), "d2")


@query(
    "llm_fuzzy_vocab_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents
    ), vocab AS (
      SELECT DISTINCT unnest(tk) AS term_b FROM t
    ), variants AS (
      SELECT DISTINCT
             CASE WHEN doc_id % 2 = 0 AND length(tk[1]) >= 3
                  THEN substring(tk[1], 1, length(tk[1]) - 1)
                  ELSE tk[1] || 'x' END AS term_a
      FROM t WHERE doc_id % 7 = 0
    )
    SELECT term_a, term_b
    FROM variants CROSS JOIN vocab
    WHERE levenshtein(term_a, term_b) = 1
    """,
    tags=("llm", "dedup", "fuzzy", "vocab"),
)
def llm_fuzzy_vocab_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching (llm.dedup.fuzzy_term_pairs): planted typo
    variants (first token of every 7th document, last char dropped or an
    'x' appended) matched against the corpus vocabulary at Levenshtein
    distance exactly 1 via the FastSS deletion-neighborhood join — the
    sub-quadratic spell-variant matcher. The oracle states the semantics
    as the quadratic cross join + levenshtein filter; the Spark plan joins
    |term|+1 deletion keys per term and verifies only collisions."""
    d = load_tables(spark, sf_dir)["documents"]
    toks = F.split(F.trim(F.col("text")), r"\s+")
    first = F.element_at(toks, 1)
    variant = F.when(
        (F.col("doc_id") % 2 == 0) & (F.length(first) >= 3),
        F.substring(first, F.lit(1), F.length(first) - 1),
    ).otherwise(F.concat(first, F.lit("x")))
    variants = d.filter(F.col("doc_id") % 7 == 0).select(variant.alias("term"))
    vocab = d.select(F.explode(toks).alias("term"))
    return dedup.fuzzy_term_pairs(variants, vocab)


@query(
    "llm_token_lift",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
      )
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    ca AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM dt GROUP BY tok),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS n_ab
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, n_ab, ca.c AS n_a, cb.c AS n_b,
           CAST(n_ab * n_docs AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE) AS lift,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT tok_a, tok_b, n_ab, n_docs,
             row_number() OVER (
               ORDER BY CAST(n_ab * n_docs AS DOUBLE) DESC, tok_a, tok_b
             ) AS rank
      FROM pairs, n WHERE n_ab >= 50
    ) p
    JOIN ca ON ca.tok = p.tok_a
    JOIN ca cb ON cb.tok = p.tok_b
    WHERE rank <= 20
    """,
    tags=("llm", "text", "association"),
)
def llm_token_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence lift (market-basket association over documents):
    for every token pair sharing a document, lift = P(a,b)/(P(a)P(b)) as
    the exact integer ratio n_ab*N / (n_a*n_b) — log-free PMI, the module's
    standard monotonic-transform determinism device. Support-filtered
    (n_ab >= 50), top-20 by unnormalized co-occurrence mass (n_ab*N — a
    count-times-constant, so the rank ordering is integer-exact), ties by
    pair. Plan: distinct (doc, token) pairs once, per-doc self-join whose
    fan-out is bounded by per-doc DISTINCT vocabulary (not doc length),
    then vocab^2-bounded aggregation. Ranking deliberately orders by the
    integer numerator n_ab*N rather than the lift quotient, keeping the
    rank key exact (the lift column itself is still emitted per pair).
    The top-20 cut is orderBy+limit (TakeOrderedAndProject: per-partition
    20-row heaps, no global sort) and the survivors rank WINDOW-FREE via
    bounded_rank — at 100 TB the support-filtered pair set is millions of
    rows, and a partition-less row_number window would drag them all
    through one task (VERDICT r7 #3; the events_session_paths recipe).
    The pair tie-break rides one STRUCT key (tok_a, tok_b): Spark struct
    ordering is field-lexicographic, so the rank's tie order is identical
    to the orderBy cut's (tok_a asc, tok_b asc) for ANY byte content — a
    concat-ws(' ') key would invert on tokens containing control bytes
    below 0x20, which split-on-whitespace does not strip (ADVICE r8)."""
    d = load_tables(spark, sf_dir)["documents"]
    # dt feeds the unigram counts and both pair-join sides — materialize
    # the distinct (doc, token) explode once (guide §3.3)
    dt = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).distinct()
    dt = plan_checkpoint(dt)
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    ca = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    a = dt.alias("a")
    b_ = dt.alias("b")
    pairs = (
        a.join(b_, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 50)
        .crossJoin(F.broadcast(n))
    )
    from hdp2_5_hive2_spark.llm.retrieval import bounded_rank

    top = (
        pairs.withColumn("_mass", F.col("n_ab") * F.col("n_docs"))
        .withColumn("_pair", F.struct("tok_a", "tok_b"))
        .orderBy(F.desc("_mass"), F.asc("tok_a"), F.asc("tok_b"))
        .limit(20)
    )
    ranked = bounded_rank(top, "_mass", "_pair").drop("_mass", "_pair")
    return (
        ranked.join(F.broadcast(ca.withColumnRenamed("tok", "tok_a").withColumnRenamed("c", "n_a")), "tok_a")
        .join(F.broadcast(ca.withColumnRenamed("tok", "tok_b").withColumnRenamed("c", "n_b")), "tok_b")
        .select(
            "tok_a", "tok_b", "n_ab", "n_a", "n_b",
            (
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query(
    "llm_embedding_dim_stats",
    oracle="""
    WITH e AS (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(floor(x * 1024) AS BIGINT)) AS q
      FROM embeddings
    ), d AS (
      SELECT i AS dim, q[i] AS v FROM e, unnest(generate_series(1, 64)) AS u(i)
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS s1,
           CAST(SUM(v * v) AS BIGINT) AS s2,
           CAST(SUM(v) AS DOUBLE) / count(*) AS mean_q,
           CAST(count(*) * SUM(v * v) - SUM(v) * SUM(v) AS DOUBLE)
             / CAST(count(*) * count(*) AS DOUBLE) AS var_q,
           sqrt(CAST(count(*) * SUM(v * v) - SUM(v) * SUM(v) AS DOUBLE)
                / CAST(count(*) * count(*) AS DOUBLE)) AS std_q
    FROM d GROUP BY dim
    """,
    tags=("llm", "similarity", "stats", "features"),
)
def llm_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics for embedding standardization (the
    z-score preprocessing table ANN/clustering pipelines fit once and
    broadcast): count, exact integer moment sums, mean, population
    variance and std in quantized units. Moments accumulate as exact
    int64 (power-of-two quantization), so mean/var are single IEEE
    divisions of agreed integers and std is IEEE sqrt — correctly rounded
    by spec — making all 7 columns hash-exact. Plan: posexplode + ONE
    64-group aggregation with map-side partials; output is
    dimensionality-sized, never corpus-sized. At far larger corpora the
    int64 moment sums would move to decimal(38) — same plan shape."""
    e = load_tables(spark, sf_dir)["embeddings"]
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(1024.0)).cast("bigint"),
    )
    d = e.select(F.posexplode(q).alias("pos", "v")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"), "v"
    )
    n = F.count(F.lit(1))
    s1 = F.sum("v")
    s2 = F.sum(F.col("v") * F.col("v"))
    var = (n * s2 - s1 * s1).cast("double") / (n * n).cast("double")
    return d.groupBy("dim").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        (s1.cast("double") / n).alias("mean_q"),
        var.alias("var_q"),
        F.sqrt(var).alias("std_q"),
    )


@query(
    "llm_blocklist_filter",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             'http://Site' || CAST(doc_id % 5 AS VARCHAR) || '.Example.COM/p/'
               || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ), h AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1))
               AS host
      FROM planted
    )
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN host IN ('site1.example.com', 'site3.example.com')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
           CAST(min(doc_id) AS BIGINT) AS sample_doc
    FROM h GROUP BY host
    """,
    tags=("llm", "curation", "url", "blocklist"),
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist gate (the crawl-pipeline step before any text
    processing): extract the host from each planted URL, mark documents
    whose host is on the blocklist. Per-host kept/blocked accounting.
    The blocklist is BROADCAST by construction (blocklists are
    list-sized); the corpus is scanned once map-side — at 100 TB this
    filter sits directly on the scan so nothing blocked is ever
    tokenized, deduped, or shuffled."""
    d = load_tables(spark, sf_dir)["documents"]
    planted = d.select(
        "doc_id",
        F.concat(
            F.lit("http://Site"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".Example.COM/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    host = F.lower(
        F.regexp_extract("url", r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1)
    )
    blocked = spark.createDataFrame(
        [("site1.example.com",), ("site3.example.com",)], "host string"
    ).withColumn("_b", F.lit(1))
    return (
        planted.select("doc_id", host.alias("host"))
        .join(F.broadcast(blocked), "host", "left")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_b").isNotNull(), 1).otherwise(0)).alias("n_blocked"),
            F.min("doc_id").alias("sample_doc"),
        )
    )


_BADWORDS = [
    "winner", "prize", "casino", "lottery", "jackpot", "viagra",
    "crypto", "bitcoin", "forex", "betting", "pills", "loan",
]


@query(
    "llm_badwords_filter",
    oracle=r"""
    WITH g AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text),
               '\b(betting|bitcoin|casino|crypto|forex|jackpot|loan|lottery|pills|prize|viagra|winner)\b'))
               AS BIGINT) AS n_badwords
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_badwords = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(n_badwords) AS BIGINT) AS total_hits,
           CAST(max(n_badwords) AS BIGINT) AS max_hits
    FROM g GROUP BY source
    """,
    tags=("llm", "curation", "filter"),
)
def llm_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist-TERM gate (curation.badwords_filter; the content
    twin of llm_blocklist_filter's domain gate): one alternation regex
    over lowercased text counts word-boundary hits of any blocklisted
    term; documents with zero hits survive. Per-source accounting shows
    what the gate costs each corpus slice. The pattern is a plan literal
    evaluated by `regexp_count` in whole-stage codegen — a pure map-side
    scan, zero shuffles before the tiny per-source rollup; Java regex and
    DuckDB's RE2 agree because escaped literal words + \\b have identical
    semantics in both."""
    d = load_tables(spark, sf_dir)["documents"]
    g = curation.badwords_filter(d.select("doc_id", "source", "text"), _BADWORDS)
    return g.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum("n_badwords").alias("total_hits"),
        F.max("n_badwords").alias("max_hits"),
    )


@query(
    "llm_quantile_normalize",
    oracle="""
    WITH s AS (SELECT doc_id, source, n_chars AS score FROM documents),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rr,
             count(*) OVER (PARTITION BY source) AS n
      FROM s
    ),
    g AS (SELECT score AS gscore,
                 row_number() OVER (ORDER BY score, doc_id) AS gr FROM s),
    t AS (SELECT count(*) AS N FROM s)
    SELECT r.doc_id, r.source, CAST(r.score AS BIGINT) AS score,
           CAST(g.gscore AS BIGINT) AS calibrated
    FROM r CROSS JOIN t JOIN g
      ON g.gr = CASE WHEN r.n > 1 THEN 1 + (r.rr - 1) * (t.N - 1) // (r.n - 1)
                     ELSE (t.N + 1) // 2 END
    """,
    tags=("llm", "curation", "calibration"),
)
def llm_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score calibration (curation.rank_calibrate): each
    source's rank-r-of-n document takes the GLOBAL score at the same
    relative position, making per-source quality scores comparable before
    one corpus-wide cut. Rank-based and integer-exact end-to-end — the
    calibrated value is a selected global score, the position is integer
    division on both engines. The Spark global rank is the two-phase
    distributed form, never a one-partition window."""
    d = load_tables(spark, sf_dir)["documents"]
    return curation.rank_calibrate(
        d.select("doc_id", "source", F.col("n_chars").alias("score")),
        score_col="score",
        group_col="source",
        id_col="doc_id",
    )


@query(
    "llm_setsim_join",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, list_distinct(string_split_regex(trim(text), '\s+')) AS toks
      FROM documents WHERE doc_id % 5 = 0
    ), s AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    p AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             len(list_intersect(a.toks, b.toks)) AS inter,
             a.n + b.n - len(list_intersect(a.toks, b.toks)) AS uni
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    )
    SELECT da, db, CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
           CAST(inter AS DOUBLE) / uni AS jaccard
    FROM p WHERE 10 * inter >= 9 * uni
    """,
    tags=("llm", "dedup", "setsim", "bench"),
)
def llm_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard>=0.9 set-similarity self-join via PPJoin-style prefix
    filtering (dedup.setsim_join_pairs) — the deterministic counterpart
    to MinHash LSH: no false negatives, no probability knob, candidates
    pruned by rarest-first token prefixes + size bounds instead of the
    quadratic product the oracle runs. Integer threshold test
    (10*inter >= 9*union) so both engines decide identically. Runs on the
    deterministic doc_id%5 slice: this corpus's planted dup CLIQUES make
    the full qualifying-pair set itself quadratic in clique size (~1M
    pairs at sf0.1) — the slice keeps the operator exercised end-to-end
    with a bounded result; real corpora gate pair EMISSION, not the join
    (or go straight to clusters via connected components)."""
    d = load_tables(spark, sf_dir)["documents"].where(F.col("doc_id") % 5 == 0)
    return dedup.setsim_join_pairs(d, tau_num=9, tau_den=10)


@query(
    "llm_cluster_safe_split",
    oracle="WITH RECURSIVE " + _ngram_cte(15) + """
    , rare AS (SELECT ngram FROM ngd GROUP BY ngram HAVING count(*) <= 100),
    e0 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM ngd a JOIN ngd b USING (ngram) JOIN rare USING (ngram)
           WHERE a.doc_id < b.doc_id),
    e AS (SELECT da AS s, db AS d FROM e0 UNION SELECT db, da FROM e0),
    v AS (SELECT DISTINCT s AS id FROM e),
    walk AS (
      SELECT id, id AS lab FROM v
      UNION
      SELECT e.d AS id, w.lab FROM walk w JOIN e ON e.s = w.id
    ),
    cl AS (SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS cluster_rep
           FROM walk GROUP BY id),
    a AS (
      SELECT d.doc_id, COALESCE(cl.cluster_rep, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, cluster_rep,
             CAST(('0x' || substring(md5(CAST(cluster_rep AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS b
      FROM a
    )
    """,
    tags=("llm", "curation", "split", "dedup"),
)
def llm_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test assignment: hash the duplicate-CLUSTER
    representative, not the document — every member of a near-dup cluster
    (connected components over shared rare 16-grams, the llm_dedup_clusters
    graph) lands in the same split by construction, so eval can never see
    a paraphrase of a training document (the failure mode llm_split_leakage
    measures; this operator makes its count zero). Singletons are their own
    representative; the 90/5/5 bucketing reuses llm_split_assign's md5
    mapping. At 100 TB: CC is the bounded-round min-label propagation, the
    split itself is one map-side hash — no extra shuffle beyond the join
    back to docs."""
    d = load_tables(spark, sf_dir)["documents"]
    cl = curation.duplicate_clusters(d, n=16, max_df=100)
    assigned = (
        d.select("doc_id")
        .join(cl, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_rep"), F.col("doc_id")).alias("cluster_rep"),
        )
    )
    b = F.conv(
        F.substring(F.md5(F.col("cluster_rep").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 100
    return assigned.select(
        "doc_id",
        "cluster_rep",
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split"),
    )


@query(
    "llm_phrase_search",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), tri AS (
      SELECT doc_id,
             unnest(generate_series(1, len(toks) - 2)) AS pos
      FROM t
    ), g AS (
      SELECT tri.doc_id, pos,
             array_to_string(t.toks[pos:pos+2], ' ') AS phrase
      FROM tri JOIN t ON tri.doc_id = t.doc_id
    ), top AS (
      SELECT phrase FROM g GROUP BY phrase
      ORDER BY count(*) DESC, phrase ASC LIMIT 1
    )
    SELECT g.doc_id, CAST(g.pos AS BIGINT) AS pos, g.phrase
    FROM g JOIN top ON g.phrase = top.phrase
    """,
    tags=("llm", "retrieval", "phrase"),
)
def llm_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE SEARCH with positional-index semantics: locate every
    occurrence (doc, 1-based token position) of the corpus's most frequent
    word trigram (ties broken lexicographically — fully data-driven, no
    baked-in constant). The positional-index classic is a 3-way self-join
    on (doc, pos), (doc, pos+1), (doc, pos+2); Spark-first this collapses
    to ONE window pass — two `lead`s over the (doc, pos) sort enumerate
    every trigram WITH its position, then the 1-row top phrase broadcasts
    back as a filter. One shuffle for the phrase count, one window sort
    per doc partition; at 100 TB the trigram stream never re-shuffles."""
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos0", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("pos0").asc())
    g = (
        toks.select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.concat_ws(
                " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
            ).alias("phrase"),
            F.lead("tok", 2).over(w).alias("_t3"),
        )
        .where(F.col("_t3").isNotNull())
        .drop("_t3")
    )
    top = g.groupBy("phrase").agg(F.count(F.lit(1)).alias("_n")).orderBy(
        F.col("_n").desc(), F.col("phrase").asc()
    ).limit(1)
    return g.join(F.broadcast(top.select("phrase")), "phrase").select(
        "doc_id", F.col("pos").cast("bigint").alias("pos"), "phrase"
    )


@query(
    "llm_kwic_concordance",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ), w AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, len(toks))) AS pos, len(toks) AS n
      FROM t
    ), top AS (
      SELECT tok FROM w WHERE length(tok) >= 6 GROUP BY tok
      ORDER BY count(*) DESC, tok ASC LIMIT 1
    )
    SELECT w.doc_id, CAST(w.pos AS BIGINT) AS pos,
           array_to_string(t.toks[greatest(1, w.pos - 2):least(w.n, w.pos + 2)], ' ')
             AS kwic
    FROM w JOIN top ON w.tok = top.tok
    JOIN t ON w.doc_id = t.doc_id
    """,
    tags=("llm", "text", "concordance"),
)
def llm_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYWORD-IN-CONTEXT concordance (the corpus-linguistics staple):
    every occurrence of the corpus's most frequent >=6-char token,
    rendered as a +-2-token context window, boundary-clamped. The keyword
    is data-driven (top-1 with lexicographic tiebreak, broadcast back);
    context slicing is JVM-side `slice` on the per-doc token array — the
    array rides WITH the exploded positions, so no join back to the
    corpus and no second shuffle. Token positions are 1-based."""
    d = load_tables(spark, sf_dir)["documents"]
    base = d.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    w = base.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.posexplode("toks").alias("pos0", "tok"),
    ).select("doc_id", "toks", "n", (F.col("pos0") + 1).alias("pos"), "tok")
    top = (
        w.where(F.length("tok") >= 6)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("tok").asc())
        .limit(1)
    )
    start = F.greatest(F.lit(1), F.col("pos") - 2)
    stop = F.least(F.col("n"), F.col("pos") + 2)
    return w.join(F.broadcast(top.select("tok")), "tok").select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), start, stop - start + 1)
        ).alias("kwic"),
    )


@query(
    "llm_dedup_survivorship",
    oracle="""
    WITH g AS (
      SELECT md5(substring(text, 1, 200)) AS fp, doc_id, source FROM documents
    ), w AS (
      SELECT fp, arg_min(source, doc_id) AS winner_source,
             min(doc_id) AS winner_id, count(*) AS sz
      FROM g GROUP BY fp HAVING count(*) > 1
    )
    SELECT w.winner_source, g.source AS loser_source,
           CAST(count(*) AS BIGINT) AS n_absorbed
    FROM g JOIN w USING (fp)
    WHERE g.doc_id <> w.winner_id
    GROUP BY w.winner_source, g.source
    """,
    tags=("llm", "dedup", "qa"),
)
def llm_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup SURVIVORSHIP matrix — the provenance report behind keep-one
    dedup: for every duplicate group (md5 of the 200-char prefix — the
    prefix_dup_rate fingerprint; byte-exact dup groups are empty at the
    small fixture), which source's copy survives (min doc_id rule) and
    which sources lose theirs. The
    winner_source x loser_source counts show cross-source content flow
    (mirrors, scrapes of scrapes) before committing to a dedup order.
    One 16-byte-fingerprint shuffle for the group table (text itself
    never shuffles), min_by for the winner, one semi-join back — the
    same single-exchange discipline as exact_dedup at 100 TB."""
    d = load_tables(spark, sf_dir)["documents"]
    g = d.select(
        F.md5(F.substring("text", 1, 200)).alias("fp"), "doc_id", "source"
    )
    w = (
        g.groupBy("fp")
        .agg(
            F.min_by("source", "doc_id").alias("winner_source"),
            F.min("doc_id").alias("winner_id"),
            F.count(F.lit(1)).alias("sz"),
        )
        .where(F.col("sz") > 1)
    )
    return (
        g.join(w, "fp")
        .where(F.col("doc_id") != F.col("winner_id"))
        .groupBy("winner_source", F.col("source").alias("loser_source"))
        .agg(F.count(F.lit(1)).alias("n_absorbed"))
    )


@query(
    "llm_source_overlap_matrix",
    oracle=r"""
    WITH sng AS (
      SELECT DISTINCT source, ngram FROM (
        SELECT source,
               unnest(list_transform(generate_series(1, len(t) - 7),
                                     i -> array_to_string(t[i:i+7], ' '))) AS ngram
        FROM (SELECT source, string_split_regex(trim(text), '\s+') AS t
              FROM documents)
      )
    ), sz AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM sng GROUP BY source
    ), inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM sng a JOIN sng b USING (ngram)
      WHERE a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_shared,
           sa.n AS n_a, sb.n AS n_b,
           CAST(i.n_shared AS DOUBLE) / (sa.n + sb.n - i.n_shared) AS jaccard
    FROM inter i JOIN sz sa ON i.source_a = sa.source
    JOIN sz sb ON i.source_b = sb.source
    """,
    tags=("llm", "curation", "qa", "overlap"),
)
def llm_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-source CONTENT OVERLAP matrix: Jaccard similarity of
    distinct word 8-gram sets for every source pair — the corpus-level
    mirror detector that says which feeds are rebrands of each other
    before any doc-level dedup. Spark plan: distinct (source, ngram)
    pass, then pairs form PER NGRAM from its source list (bounded by
    #sources, never by corpus size) and aggregate map-side; set sizes
    broadcast back. The n-gram stream shuffles once on the ngram key.
    The n-grams come from the Arrow kernel (curation.word_ngram_rows,
    source-keyed) — the sequence/slice/array_join Column chain this
    replaced evaluates INTERPRETED in Catalyst and ran the whole corpus
    on the scan's single split (~3 s at sf0.1 vs ~1 s; PERF.md r8)."""
    from hdp2_5_hive2_spark.llm import curation

    d = load_tables(spark, sf_dir)["documents"]
    # sng feeds the size agg and both intersection sides — materialize
    # the Arrow n-gram pass once (guide §3.3)
    sng = (
        curation.word_ngram_rows(d, "text", "source", n=8)
        .select(F.col("id").alias("source"), "ngram")
        .distinct()
    )
    sng = plan_checkpoint(sng)
    sz = sng.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sng.alias("a")
        .join(sng.alias("b"), "ngram")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(F.broadcast(sz.withColumnRenamed("source", "source_a")
                   .withColumnRenamed("n", "n_a")), "source_a")
        .join(F.broadcast(sz.withColumnRenamed("source", "source_b")
              .withColumnRenamed("n", "n_b")), "source_b")
        .select(
            "source_a", "source_b", "n_shared", "n_a", "n_b",
            (
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


_PROFILE_COLS = [
    # (name, min/max string-cast SQL template — formatting-safe types only:
    # bigint/varchar verbatim, double via DECIMAL(18,2), timestamp via DATE)
    ("o_orderkey", "CAST({c} AS VARCHAR)"),
    ("o_custkey", "CAST({c} AS VARCHAR)"),
    ("o_orderstatus", "{c}"),
    ("o_totalprice", "CAST(CAST({c} AS DECIMAL(18,2)) AS VARCHAR)"),
    ("o_orderdate", "CAST(CAST({c} AS DATE) AS VARCHAR)"),
    ("o_orderpriority", "{c}"),
]


def _profile_oracle() -> str:
    branches = []
    for c, fmt in _PROFILE_COLS:
        lo, hi = fmt.format(c=f"min({c})"), fmt.format(c=f"max({c})")
        branches.append(
            f"SELECT '{c}' AS column_name, 'n_nonnull' AS metric,"
            f" CAST(count({c}) AS VARCHAR) AS value FROM orders"
        )
        branches.append(
            f"SELECT '{c}', 'n_nulls', CAST(count(*) - count({c}) AS VARCHAR)"
            f" FROM orders"
        )
        branches.append(
            f"SELECT '{c}', 'n_distinct', CAST(count(DISTINCT {c}) AS VARCHAR)"
            f" FROM orders"
        )
        branches.append(f"SELECT '{c}', 'min', {lo} FROM orders")
        branches.append(f"SELECT '{c}', 'max', {hi} FROM orders")
    return " UNION ALL ".join(branches)


@query(
    "qa_schema_profile",
    oracle=_profile_oracle(),
    tags=("qa", "profiling"),
)
def qa_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style COLUMN PROFILER: one pass over the table computes
    (n_nonnull, n_nulls, n_distinct, min, max) for every column, emitted
    long-format (column_name, metric, value) — the schema-drift /
    data-contract audit that fronts every ingestion pipeline. ONE
    aggregate job for all columns x metrics (the oracle's 30-branch UNION
    collapses into a single Spark agg row, then a driver-free explode);
    min/max stringify via formatting-safe casts only (doubles through
    DECIMAL, timestamps through DATE) so both engines print identically.
    Scales as one scan + one 1-row reduce."""
    o = load_tables(spark, sf_dir)["orders"]
    aggs, fields = [], []
    for c, fmt in _PROFILE_COLS:
        if "DECIMAL" in fmt:
            lo = F.min(c).cast("decimal(18,2)").cast("string")
            hi = F.max(c).cast("decimal(18,2)").cast("string")
        elif "DATE" in fmt:
            lo = F.min(c).cast("date").cast("string")
            hi = F.max(c).cast("date").cast("string")
        else:
            lo, hi = F.min(c).cast("string"), F.max(c).cast("string")
        aggs += [
            F.count(c).cast("string").alias(f"{c}__n_nonnull"),
            (F.count(F.lit(1)) - F.count(c)).cast("string").alias(f"{c}__n_nulls"),
            F.count_distinct(F.col(c)).cast("string").alias(f"{c}__n_distinct"),
            lo.alias(f"{c}__min"),
            hi.alias(f"{c}__max"),
        ]
        fields += [f"{c}__{m}" for m in ("n_nonnull", "n_nulls", "n_distinct", "min", "max")]
    row = o.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(f.split("__")[0]).alias("column_name"),
                F.lit(f.split("__")[1]).alias("metric"),
                F.col(f).alias("value"),
            )
            for f in fields
        ]
    )
    return row.select(F.explode(structs).alias("p")).select(
        "p.column_name", "p.metric", "p.value"
    )


_QUANT_BLOCK_CTE = """
    q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id >= 5
    ), qq AS (
      SELECT vec_id,
             list_transform(v, x -> greatest(-127.0, least(127.0,
               floor(x * (CASE WHEN m = 0.0 THEN 1.0 ELSE 127.0 / m END))))) AS qv
      FROM (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
            FROM q)
    ), qc AS (
      SELECT vec_id,
             list_transform(v, x -> greatest(-127.0, least(127.0,
               floor(x * (CASE WHEN m = 0.0 THEN 1.0 ELSE 127.0 / m END))))) AS qv
      FROM (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
            FROM c)
    ), qblk AS (
      SELECT vec_id, b, qv[b * 8 + 1 : b * 8 + 8] AS blk
      FROM qq CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b)
    ), cblk AS (
      SELECT vec_id, b, qv[b * 8 + 1 : b * 8 + 8] AS blk
      FROM qc CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b)
    )
"""


@query(
    "llm_maxsim_rerank",
    oracle="WITH " + _QUANT_BLOCK_CTE + """
    , dots AS (
      SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id,
             qb.b AS qb, max(list_dot_product(qb.blk, cb.blk)) AS best
      FROM qblk qb CROSS JOIN cblk cb
      GROUP BY qb.vec_id, cb.vec_id, qb.b
    ), scores AS (
      SELECT query_id, neighbor_id, CAST(SUM(best) AS BIGINT) AS score
      FROM dots GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, rank, score FROM (
      SELECT query_id, neighbor_id, score,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, neighbor_id
             ) AS INTEGER) AS rank
      FROM scores
    ) WHERE rank <= 3
    """,
    tags=("llm", "similarity", "maxsim", "late-interaction", "bench"),
)
def llm_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION (ColBERT MaxSim) retrieval
    (similarity.maxsim_topk): each 64-dim vector splits into 8 token-like
    sub-vectors; the pair score is sum over query blocks of the best
    matching document block dot — richer than single-vector cosine, the
    standard multi-vector serving model. Both sides int8-quantized with
    the quantized_topk convention so every block dot is int64-exact and
    the BIGINT scores are engine-identical; top-3 per query, id
    tiebreak. The corpus never shuffles: one Arrow einsum pass emits
    per-batch partial top-k only."""
    e = load_tables(spark, sf_dir)["embeddings"]
    return similarity.maxsim_topk(
        e.where(F.col("vec_id") >= 5),
        e.where(F.col("vec_id") < 5),
        n_blocks=8,
        k=3,
    )


@query(
    "llm_dedup_cost_report",
    oracle="WITH RECURSIVE " + _ngram_cte(15) + """
    , rare AS (SELECT ngram FROM ngd GROUP BY ngram HAVING count(*) <= 100),
    e0 AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           FROM ngd a JOIN ngd b USING (ngram) JOIN rare USING (ngram)
           WHERE a.doc_id < b.doc_id),
    e AS (SELECT da AS s, db AS d FROM e0 UNION SELECT db, da FROM e0),
    v AS (SELECT DISTINCT s AS id FROM e),
    walk AS (
      SELECT id, id AS lab FROM v
      UNION
      SELECT e.d AS id, w.lab FROM walk w JOIN e ON e.s = w.id
    ),
    cc AS (SELECT id AS doc_id, min(lab) AS rep FROM walk GROUP BY id),
    near AS (
      SELECT 'near_16gram' AS strategy,
             CAST(count(DISTINCT rep) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             CAST(SUM(CASE WHEN doc_id <> rep THEN n_chars ELSE 0 END) AS BIGINT)
               AS bytes_saved
      FROM cc JOIN documents USING (doc_id)
    ),
    pfx AS (
      SELECT 'prefix_200' AS strategy,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(SUM(sz - 1) AS BIGINT) AS n_removed,
             CAST(SUM(bytes_lost) AS BIGINT) AS bytes_saved
      FROM (
        SELECT md5(substring(text, 1, 200)) AS fp, count(*) AS sz,
               SUM(n_chars) - min_by(n_chars, doc_id) AS bytes_lost
        FROM documents GROUP BY fp HAVING count(*) > 1
      )
    ),
    ex AS (
      SELECT 'exact' AS strategy,
             CAST(coalesce(count(*), 0) AS BIGINT) AS n_groups,
             CAST(coalesce(SUM(sz - 1), 0) AS BIGINT) AS n_removed,
             CAST(coalesce(SUM(bytes_lost), 0) AS BIGINT) AS bytes_saved
      FROM (
        SELECT md5(text) AS fp, count(*) AS sz,
               SUM(n_chars) - min_by(n_chars, doc_id) AS bytes_lost
        FROM documents GROUP BY fp HAVING count(*) > 1
      )
    )
    SELECT * FROM ex UNION ALL SELECT * FROM pfx UNION ALL SELECT * FROM near
    """,
    tags=("llm", "dedup", "report"),
)
def llm_dedup_cost_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP STRATEGY COST REPORT — the planning table a data lead reads
    before choosing a dedup ladder: for exact (md5 text), prefix-200, and
    near-dup (rare-16-gram connected components), how many duplicate
    groups exist, how many documents keep-min-id dedup would remove, and
    how many bytes that saves. Exact/prefix are single fingerprint-shuffle
    aggregates (min_by keeps the survivor's size); the near tier reuses
    duplicate_clusters' bounded-round CC. Keep-rule = min doc_id
    everywhere so all three tiers are comparable."""
    d = load_tables(spark, sf_dir)["documents"]

    def tier(fp, name: str) -> DataFrame:
        g = (
            d.select(fp.alias("fp"), "doc_id", "n_chars")
            .groupBy("fp")
            .agg(
                F.count(F.lit(1)).alias("sz"),
                (F.sum("n_chars") - F.min_by("n_chars", "doc_id")).alias("bytes_lost"),
            )
            .where(F.col("sz") > 1)
        )
        return g.agg(
            F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint").alias("n_groups"),
            F.coalesce(F.sum(F.col("sz") - 1), F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce(F.sum("bytes_lost"), F.lit(0))
            .cast("bigint")
            .alias("bytes_saved"),
        ).select(F.lit(name).alias("strategy"), "n_groups", "n_removed", "bytes_saved")
    cc = curation.duplicate_clusters(d, n=16, max_df=100).withColumnRenamed(
        "cluster_rep", "rep"
    )
    near = (
        cc.join(d.select("doc_id", "n_chars"), "doc_id")
        .agg(
            F.count_distinct("rep").cast("bigint").alias("n_groups"),
            F.sum(F.when(F.col("doc_id") != F.col("rep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_removed"),
            F.sum(F.when(F.col("doc_id") != F.col("rep"), F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("bytes_saved"),
        )
        .select(
            F.lit("near_16gram").alias("strategy"), "n_groups", "n_removed", "bytes_saved"
        )
    )
    return (
        tier(F.md5("text"), "exact")
        .unionAll(tier(F.md5(F.substring("text", 1, 200)), "prefix_200"))
        .unionAll(near)
    )


@query(
    "llm_jsonl_shard_ingest",
    oracle="""
    SELECT c.codec,
           COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(d.text)) AS BIGINT) AS total_chars,
           CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
    FROM (VALUES ('bzip2'), ('gzip'), ('plain'), ('seekable'), ('xz'),
                 ('zstd')) AS c(codec)
    CROSS JOIN (SELECT * FROM documents WHERE doc_id % 2 = 0) d
    GROUP BY c.codec
    """,
    tags=("llm", "ingest", "formats", "bench"),
)
def llm_jsonl_shard_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus-shard ingestion END TO END (llm/corpus_shards.py —
    the distribution format of the public LLM corpora: The Pile/Dolma
    ship .jsonl.zst, C4/RedPajama .json.gz): the even documents are
    sharded out executor-side (write_jsonl_shards, one shard per
    partition, no driver collect) once per codec — plain, gzip, bzip2,
    xz, and zstd (storage/zstd_codec.py frames, the RFC 8878 codec;
    bz2/lzma are stdlib), plus a
    SEEKABLE-zstd leg (write/read_jsonl_seekable — one independently
    decodable frame per 40 lines, one Spark task per frame planned from
    footer-only seek tables) — then read back through read_jsonl_shards
    (decompress + line-split in the Arrow pass) with JSON field
    extraction left JVM-side
    (get_json_object, codegen). Per-codec doc counts, char totals and
    id sums must equal the oracle's direct aggregation of the same
    slice, so framing, compression, UTF-8 and JSON escaping all have to
    round-trip exactly. 100 TB: publishers size shards for
    one-task-per-shard parallelism; .gz/.zst members are not
    random-access, so whole-member decode per task is the honest cost
    model (same contract as the .warc.gz path)."""
    import glob as _glob

    from hdp2_5_hive2_spark.llm.corpus_shards import (
        read_jsonl_seekable,
        read_jsonl_shards,
        write_jsonl_seekable,
        write_jsonl_shards,
    )
    from hdp2_5_hive2_spark.queries.storage_corpus import IO_ROOT

    # r13 optimization (guide §2.6): the six codec fixtures are
    # independent write jobs dominated by single-threaded per-shard
    # encoders — materialize the doc slice once (eager checkpoint: six
    # concurrent lazy materializations would race), shard it 16 ways so
    # each codec's encode parallelizes, and submit the writes from a
    # thread pool so their tasks back-fill each other's encode tails.
    # Shard count/concurrency change the fixture layout only — the query
    # aggregates per codec, which is shard-invariant.
    from concurrent.futures import ThreadPoolExecutor

    docs = (
        load_tables(spark, sf_dir)["documents"]
        .where(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
        .repartition(16)
        .localCheckpoint(eager=True)
    )
    codecs = ("plain", "gzip", "zstd", "bzip2", "xz")

    def write_one(codec: str) -> None:
        if codec == "seekable":
            write_jsonl_seekable(
                docs, f"{IO_ROOT}/jsonl_shards/seekable", lines_per_frame=40
            )
        else:
            write_jsonl_shards(docs, f"{IO_ROOT}/jsonl_shards/{codec}", codec=codec)

    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(write_one, (*codecs, "seekable")))
    paths: list[str] = []
    for codec in codecs:
        paths.extend(sorted(_glob.glob(f"{IO_ROOT}/jsonl_shards/{codec}/part-*")))
    seek_root = f"{IO_ROOT}/jsonl_shards/seekable"
    seek_lines = read_jsonl_seekable(
        spark, sorted(_glob.glob(f"{seek_root}/part-*"))
    ).select("path", "line_idx", "line")
    lines = read_jsonl_shards(spark, paths).unionByName(seek_lines)
    return (
        lines.withColumn(
            "codec", F.regexp_extract("path", r"jsonl_shards/([a-z0-9]+)/", 1)
        )
        .select(
            "codec",
            F.get_json_object("line", "$.doc_id").cast("bigint").alias("doc_id"),
            F.get_json_object("line", "$.text").alias("text"),
        )
        .groupBy("codec")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


@query(
    "llm_exact_substring_dedup",
    oracle="""
    WITH sh AS (
      SELECT doc_id, CAST(p AS BIGINT) AS p
      FROM (
        SELECT doc_id, p,
               COUNT(*) OVER (
                 PARTITION BY md5(substr(text, CAST(p AS INT) + 1, 60))
               ) AS c
        FROM (SELECT doc_id, text, unnest(range(0, length(text) - 60 + 1)) AS p
              FROM documents WHERE length(text) >= 60)
      ) WHERE c > 1
    ), isl AS (
      SELECT doc_id, p,
             CASE WHEN LAG(p) OVER w IS NULL OR p - LAG(p) OVER w > 60
                  THEN 1 ELSE 0 END AS brk
      FROM sh WINDOW w AS (PARTITION BY doc_id ORDER BY p)
    ), grp AS (
      SELECT doc_id, p,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g
      FROM isl
    ), spans AS (
      SELECT doc_id, MIN(p) AS s, MAX(p) + 60 - MIN(p) AS ln
      FROM grp GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(ln) AS BIGINT) AS dup_chars,
           CAST(MIN(s) AS BIGINT) AS first_span_start
    FROM spans GROUP BY doc_id
    """,
    tags=("llm", "dedup", "bench"),
)
def llm_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup spans (Lee et al. 2021's ExactSubstr,
    llm/dedup.py:exact_substring_spans): every maximal character span
    whose length-60+ text recurs anywhere in the corpus — across
    documents or repeated inside one — found by hashing EVERY length-60
    window to a 128-bit key (pure codegen: sequence-explode + substring
    + two seeded xxhash64, no Python), one wide count-over-hash shuffle,
    then a per-document gaps-and-islands merge. Per document: span
    count, duplicated chars, first span offset; the DuckDB oracle
    replays the identical window algebra on an independent key (md5),
    so the exactness lemma (dup substring >= L exists iff a length-L
    window is duplicated), the island merge rule (gap > L breaks) and
    0/1-based indexing all have to agree. The suffix-array tool this
    re-expresses runs on one big-RAM box; the distributed form trades
    that RAM for one wide-but-parallel shuffle (see the operator's
    100 TB note). cut_spans applies the cut step."""
    from hdp2_5_hive2_spark.llm.dedup import exact_substring_spans

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        exact_substring_spans(docs, min_len=60)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_len").alias("dup_chars"),
            F.min("span_start").alias("first_span_start"),
        )
    )
