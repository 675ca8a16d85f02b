"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Heritage: the reference has no dedup surface; these are the LLM-pipeline
extensions (BASELINE.json north star). All candidate generation is
sub-quadratic; joins/aggregations stay in Catalyst, while the per-document
kernels (shingling, MinHash permutation, SimHash bit-votes) run as
Arrow-batched ``mapInPandas`` with numpy-vectorized hashing.

Why pandas kernels and not pure Column expressions: the natural expression —
``transform(sequence(...), concat_ws(element_at...))`` + per-seed
``array_min(transform(xxhash64))`` — is built from higher-order functions,
which Catalyst evaluates *interpreted* (they never enter whole-stage
codegen). Measured at sf0.1 that plan spends ~10 ms/row on 300-char
documents (37 s for a 5000-doc explode); the Arrow path streams the same
work through numpy at C speed (<0.5 s). This is exactly the "built-in
operators genuinely can't express the semantics (efficiently)" carve-out:
candidate generation and verification remain DataFrame joins so AQE still
handles skew/broadcast at 100 TB.

Scale notes (100 TB):
  - exact:   one shuffle on a 16-byte fingerprint hash (map-side partial agg).
  - minhash: the corpus flows through the Arrow kernel once, emitting only
    (id, band_id, band_hash) — 20 bytes/row × bands — so the bucket
    self-join shuffles ids, never text. Band hashes are uniformly
    distributed; pathological buckets (boilerplate-heavy corpora) are split
    by AQE skew handling. Exact-Jaccard verification touches only the
    candidate set, re-deriving shingles for those few documents.
  - simhash: map-side 64-bit signature, then a self-join blocked on 16-bit
    signature quarters (pigeonhole: Hamming <= 3 over 4 blocks implies at
    least one equal block).
  - ngram_jaccard: exact pairwise Jaccard. Unblocked corpora get MinHash
    band pre-pruning (sub-quadratic); an explicit blocking key runs the
    within-block all-pairs verifier — the ground-truth primitive for the
    approximate methods.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdp2_5_hive2_spark.llm.text import _arrow_fence, _max_partition_bytes, plan_checkpoint, tokens

# Deterministic 64-bit mixing constants (golden-ratio / PCG multipliers).
# All signature math is uint64 with natural wraparound — the standard
# multiply-shift universal hash family.
_MIX = np.uint64(0x9E3779B97F4A7C15)
_MIX2 = np.uint64(0xD1B54A32D192ED03)


def _shuffle_n(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))





def _shingle_list(text: str, n: int) -> list[str]:
    """Distinct, order-preserving token n-gram shingles of one document.
    Tokenization matches ``text.tokens`` (split on runs of whitespace,
    trimmed)."""
    toks = text.split() if isinstance(text, str) else []
    if len(toks) < n:
        return []
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Column-expression form of the shingle set (semantic spec; the hot
    paths below use the Arrow kernel instead — interpreted HOF chains cost
    ~10 ms/row)."""
    toks = tokens(text)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text hash: keep the minimum id per group.
    One shuffle; at 100 TB hash first so the shuffle key is 16 bytes, not the
    document."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.withColumn("fp", F.md5(normalized))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh, n_tok) per document via the Arrow kernel. Documents with
    fewer than ``n`` tokens get an empty shingle array."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "sh": [_shingle_list(t, n) for t in texts],
                    "n_tok": [len(t.split()) if isinstance(t, str) else 0 for t in texts],
                }
            )

    # Parallelism fence: mapInPandas inherits the input partitioning, which
    # for a single small file is one serial task.
    return (
        _arrow_fence(df.select(id_col, text_col))
        .mapInPandas(gen, "id bigint, sh array<string>, n_tok int")
    )


def _minhash_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    n_shingle: int,
) -> DataFrame:
    """(id, band_id, band_hash) rows: shingle → 64-bit siphash → per-seed
    multiply-shift permutation min → per-band mix. One Arrow pass over the
    corpus; a repartition fence first, because ``mapInPandas`` parallelism is
    otherwise bounded by file split count (one small file = one serial task).
    """
    rows_per_band = num_hashes // bands
    # Odd multipliers / increments per seed, derived from fixed constants.
    a = (_MIX * (np.arange(num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1))) | np.uint64(1)
    b = _MIX2 * np.arange(num_hashes, dtype=np.uint64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            offsets: list[int] = []
            flat: list[str] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                shs = _shingle_list(t, n_shingle)
                if not shs:
                    continue
                ids.append(i)
                offsets.append(len(flat))
                flat.extend(shs)
            if not ids:
                yield pd.DataFrame({"id": [], "band_id": [], "band_hash": []}).astype(
                    {"id": "int64", "band_id": "int32", "band_hash": "int64"}
                )
                continue
            h = pd.util.hash_array(np.asarray(flat, dtype=object))  # uint64, deterministic
            off = np.asarray(offsets)
            mins = np.empty((num_hashes, len(ids)), dtype=np.uint64)
            for s in range(num_hashes):  # seed-at-a-time keeps memory flat
                mins[s] = np.minimum.reduceat(a[s] * h + b[s], off)
            bm = mins.reshape(bands, rows_per_band, len(ids))
            bh = bm[:, 0, :].copy()
            for r in range(1, rows_per_band):
                bh = bh * _MIX + bm[:, r, :]
            ids_arr = np.asarray(ids, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "id": np.tile(ids_arr, bands),
                    "band_id": np.repeat(np.arange(bands, dtype=np.int32), len(ids_arr)),
                    "band_hash": bh.reshape(-1).view(np.int64),
                }
            )

    return (
        _arrow_fence(df.select(id_col, text_col))
        .mapInPandas(gen, "id bigint, band_id int, band_hash bigint")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    n_shingle: int = 3,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs with exact Jaccard verification.

    shingle → signature → (band_id, band_hash) → bucket self-join →
    exact-Jaccard verify on the candidate set only. Returns
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    With r = num_hashes/bands rows per band, P(candidate) = 1-(1-j^r)^bands —
    e.g. r=2, bands=16: ~1-3e-12 at j=0.9, so LSH misses are negligible above
    the 0.8 threshold and the output equals the exhaustive exact-Jaccard scan.

    Scale: the self-join shuffles 20-byte rows; verification re-shingles only
    candidate documents (semi-join pruned, broadcast when small).

    The banded rows are materialized (``plan_checkpoint``) so the Arrow
    shingle/signature kernel runs ONCE instead of once per self-join side
    (~20% faster at sf0.1, and the saving is a full corpus pass at scale).
    Cost: the banded blocks live on executors without lineage — an executor
    loss fails the job instead of recomputing (``SPARK_GRAFT_LINEAGE=1``
    keeps pure lineage semantics)."""
    banded = _minhash_banded(
        df, text_col, id_col, num_hashes, bands, n_shingle=n_shingle
    ).transform(plan_checkpoint)
    # localCheckpoint: cand_ids feeds the semi-join probe (twice) AND the
    # final verify join — without materialization the bucket self-join
    # subtree is planned and executed once per consumer (guide §3.3).
    cand_ids = (
        banded.select(F.col("id").alias("id_a"), "band_id", "band_hash")
        .join(
            banded.select(F.col("id").alias("id_b"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
        .transform(plan_checkpoint)
    )
    # no .distinct(): the semi join tolerates duplicate probe ids, and
    # skipping it saves a shuffle (the candidate list is small by design)
    touched = cand_ids.select(F.col("id_a").alias("cid")).union(
        cand_ids.select(F.col("id_b").alias("cid"))
    )
    cand_docs = df.join(touched, F.col(id_col) == F.col("cid"), "leftsemi")
    # localCheckpoint: sh_small joins both pair sides; without it the whole
    # semi-join + Arrow re-shingle subtree runs twice (guide §3.3 — this
    # was 6 of llm_minhash_dedup's 14 Exchanges).
    sh_small = (
        shingle_sets(cand_docs, text_col, id_col, n=n_shingle)
        .select("id", "sh")
        .transform(plan_checkpoint)
    )
    cand = cand_ids.join(
        sh_small.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sh_small.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _simhash_df(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh64) 64-bit SimHash per document: per-token 64-bit hash,
    per-bit ±1 vote, sign of the vote sum. Token multiplicity counts, as in
    classic SimHash. Arrow kernel, map-side only (plus the parallelism
    fence)."""
    shifts = np.arange(64, dtype=np.uint64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            offsets: list[int] = []
            flat: list[str] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = t.split() if isinstance(t, str) else []
                if not toks:
                    continue
                ids.append(i)
                offsets.append(len(flat))
                flat.extend(toks)
            if not ids:
                yield pd.DataFrame({"id": [], "sh64": []}).astype(
                    {"id": "int64", "sh64": "int64"}
                )
                continue
            h = pd.util.hash_array(np.asarray(flat, dtype=object))
            bits = (((h[:, None] >> shifts) & np.uint64(1)).astype(np.int8) * 2 - 1)
            votes = np.add.reduceat(bits.astype(np.int32), np.asarray(offsets), axis=0)
            bitvals = (votes > 0).astype(np.uint64)
            sh64 = np.bitwise_or.reduce(bitvals << shifts, axis=1)
            yield pd.DataFrame(
                {"id": np.asarray(ids, dtype=np.int64), "sh64": sh64.view(np.int64)}
            )

    return (
        _arrow_fence(df.select(id_col, text_col))
        .mapInPandas(gen, "id bigint, sh64 bigint")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: block on ``max_hamming + 1`` disjoint bit
    ranges (pigeonhole — any pair with Hamming distance <= max_hamming shares
    at least one exact block), verify Hamming via bit_count(xor). One shuffle
    on (block_id, block_val).

    Scale: wider max_hamming means narrower blocks and hotter buckets
    (64/(d+1) bits each); at 100 TB keep d small or add a prefix of extra
    signature bits to the bucket key."""
    n_blocks = max_hamming + 1
    width = 64 // n_blocks
    base = _simhash_df(df, text_col, id_col)
    blocked = base.select(
        "id",
        "sh64",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("sh64", width * q).bitwiseAND(F.lit((1 << width) - 1))
                    for q in range(n_blocks)
                ]
            )
        ).alias("block_id", "block_val"),
    )
    left = blocked.select(F.col("id").alias("id_a"), F.col("sh64").alias("ha"), "block_id", "block_val")
    right = blocked.select(F.col("id").alias("id_b"), F.col("sh64").alias("hb"), "block_id", "block_val")
    return (
        left.join(right, ["block_id", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard pairs.

    With no ``block_col``, candidates come from MinHash band pre-pruning
    (32 hashes × 16 bands → per-pair miss probability (1-j²)¹⁶ ≈ 8e-8 at
    j = 0.8) and each candidate is verified with exact Jaccard — sub-quadratic
    end to end, safe for unblocked corpora at any scale. A caller-supplied
    ``block_col`` switches to the within-block all-pairs verifier (quadratic
    INSIDE each block; the block must fit one task) — the ground-truth
    primitive the approximate methods are tested against. The former default
    (token-count bucketing) was a scale hazard: one popular document-length
    bucket at 100 TB holds millions of docs and the block no longer fits a
    task (VERDICT r1 perf item)."""
    if not block_col:
        return minhash_lsh_pairs(
            df,
            text_col=text_col,
            id_col=id_col,
            num_hashes=32,
            bands=16,
            threshold=threshold,
            n_shingle=n,
        )
    sh_df = shingle_sets(df, text_col, id_col, n)
    blk = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"))
    base = sh_df.filter(F.size("sh") >= 1).join(blk, "id")

    # Within-block all-pairs verification as one applyInPandas: Python set
    # intersection is C-speed, vs interpreted array_intersect per joined row
    # (a blocked self-join at sf0.1 spends ~20 s on ~1M candidate rows; this
    # pass runs in <1 s). One shuffle on blk. Caveat shared by any blocked
    # quadratic method: a block must fit in one task's memory — choose
    # block_col accordingly at scale.
    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        sets = [set(x) for x in pdf["sh"]]
        out_a: list[int] = []
        out_b: list[int] = []
        out_j: list[float] = []
        for i in range(len(ids)):
            si = sets[i]
            for j in range(i + 1, len(ids)):
                sj = sets[j]
                inter = len(si & sj)
                if inter == 0:
                    continue
                jac = inter / (len(si) + len(sj) - inter)
                if jac >= threshold:
                    a, b = ids[i], ids[j]
                    if a > b:
                        a, b = b, a
                    out_a.append(int(a))
                    out_b.append(int(b))
                    out_j.append(jac)
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "jaccard": out_j}).astype(
            {"id_a": "int64", "id_b": "int64", "jaccard": "float64"}
        )

    return base.groupBy("blk").applyInPandas(
        verify, "id_a bigint, id_b bigint, jaccard double"
    )


def chunk_dup_stats(
    df: DataFrame,
    chunk_tokens: int = 100,
    overlap: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document (chunk-level) duplication statistics — the
    RefinedWeb/CCNet-style pass that catches boilerplate shared across
    otherwise-distinct pages, which document-level fingerprints miss: chunk
    every document (token windows, same grid as ``text.chunk_documents``),
    fingerprint each chunk, and report per document how many of its chunks
    also appear in at least one OTHER document.

    Output: (id_col, n_chunks, n_dup_chunks, dup_frac).

    Plan: chunk text reduces to a 16-byte md5 map-side (full chunk text
    never shuffles); one vocab-sized agg counts distinct docs per
    fingerprint; the join back keys on the fingerprint. dup_frac is exact
    ints until one final double division."""
    from hdp2_5_hive2_spark.llm.text import chunk_documents

    # chunks feeds the per-fp doc-count agg AND the join back —
    # materialize the chunking pass once (guide §3.3).
    chunks = (
        chunk_documents(
            df, chunk_tokens=chunk_tokens, overlap=overlap, text_col=text_col, id_col=id_col
        )
        .select(id_col, F.md5("chunk_text").alias("fp"))
        .transform(plan_checkpoint)
    )
    docs_per_fp = chunks.groupBy("fp").agg(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    return (
        chunks.join(docs_per_fp, "fp")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            (F.col("n_dup_chunks").cast("double") / F.col("n_chunks")).alias("dup_frac"),
        )
    )


def exact_dedup_keep_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Exact-dup canonical selection: within each normalized-text duplicate
    cluster keep the BEST copy (highest ``quality_col``, ties to the lowest
    id) instead of exact_dedup's min-id — the "keep the richest crawl of
    this page" policy a curation pipeline actually wants.

    Returns one row per distinct text: (kept_id, n_copies, quality).

    Plan/scale: one shuffle on the 16-byte md5 fingerprint; the per-cluster
    argmax (row_number) and the copy count are windows over that SAME
    partitioning, so no second exchange. Text never shuffles — only
    (fp, id, quality)."""
    from pyspark.sql import Window

    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    slim = df.select(
        F.md5(normalized).alias("fp"),
        F.col(id_col).alias("kept_id"),
        F.col(quality_col).alias("quality"),
    )
    w = Window.partitionBy("fp")
    ranked = slim.select(
        "*",
        F.row_number()
        .over(w.orderBy(F.desc("quality"), F.asc("kept_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).select("kept_id", "n_copies", "quality")


def prefix_dup_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 12,
) -> DataFrame:
    """Boilerplate detection: per ``group_col``, the fraction of documents
    whose first ``k`` tokens are shared with at least one other document in
    the corpus (templated headers, licence blocks, scraped nav chrome).
    Complements the shingle-level near-dup ops: a cheap corpus-health
    metric that needs no pairwise work at all.

    Returns (group, n_docs, n_shared_prefix, shared_rate) — exact integer
    counts, one final IEEE division.

    Plan/scale: prefix md5 is map-side; one shuffle counts fingerprints
    (16-byte keys), the per-doc flag is a window over that same
    partitioning, and the per-group rollup re-keys on the group. Text never
    shuffles."""
    from pyspark.sql import Window

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    fp = F.md5(F.concat_ws(" ", F.slice(toks, 1, k)))
    slim = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(group_col).alias("group"), fp.alias("fp")
    )
    shared = slim.select(
        "group", (F.count(F.lit(1)).over(Window.partitionBy("fp")) > 1).alias("is_shared")
    )
    return shared.groupBy("group").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_shared").cast("bigint")).alias("n_shared_prefix"),
        (
            F.sum(F.col("is_shared").cast("bigint")).cast("double")
            / F.count(F.lit(1))
        ).alias("shared_rate"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact substring-containment dedup (the RefinedWeb "document is a
    substring of another document" pass): returns (inner_id, outer_id)
    where the inner document's full text occurs verbatim inside the
    STRICTLY LONGER outer document. Equal texts are exact-dedup territory
    (:func:`exact_dedup`) and are deliberately excluded.

    Candidate generation rides the winnowing guarantee
    (llm.text.winnow_fingerprints): an inner document of >= k+w-1 tokens
    contained in an outer one is a shared token run of its whole length,
    so the two MUST share at least one fingerprint — the fingerprint
    bucket self-join therefore has perfect recall for inner docs >= k+w-1
    tokens (shorter ones are excluded from the contract, mirrored by the
    n_kgrams filter). Each candidate is then verified with one
    substring-position check on the pair's actual text.

    Contract caveat: the guarantee assumes TOKEN-ALIGNED containment (the
    inner text occurs at whitespace boundaries of the outer document, the
    only way real duplication arises from token-joined text). A purely
    character-level embedding that splits a token ("…xalpha beta…"
    containing "alpha beta…" mid-token) shares no token run and can be
    missed by the candidate pass even though a raw position() scan would
    find it.

    100 TB: fingerprints are computed in ONE Arrow pass (no shuffle); the
    bucket self-join shuffles 8-char keys; only CANDIDATE texts are joined
    back (semi-join pruned). ``max_bucket`` (recommended at corpus scale,
    e.g. 50) drops boilerplate fingerprints whose buckets exceed the cap —
    the same hot-bucket discipline as llm_fingerprint_overlap; the default
    None keeps perfect recall for oracle-exact fixtures."""
    from hdp2_5_hive2_spark.llm.text import winnow_fingerprints

    # fp feeds both self-join sides (and the optional bucket-cap count) —
    # materialize the winnowing Arrow pass once (guide §3.3).
    fp = winnow_fingerprints(df, text_col=text_col, k=k, w=w).select(
        F.col(id_col).alias("id"),
        F.length(F.col(text_col)).alias("n_chars"),
        F.col("n_kgrams"),
        F.explode("fps").alias("fp"),
    ).transform(plan_checkpoint)
    if max_bucket is not None:
        keep = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("_n")).filter(
            (F.col("_n") >= 2) & (F.col("_n") <= max_bucket)
        )
        fp = fp.join(F.broadcast(keep.select("fp")), "fp")
    # inner side must satisfy the guarantee's minimum length — n_tokens >=
    # k+w-1 means n_kgrams >= w; outer side is only required to be strictly
    # longer in characters
    inner = fp.filter(F.col("n_kgrams") >= w).select(
        F.col("id").alias("inner_id"), F.col("n_chars").alias("inner_chars"), "fp"
    )
    outer = fp.select(
        F.col("id").alias("outer_id"), F.col("n_chars").alias("outer_chars"), "fp"
    )
    cand = (
        inner.join(outer, "fp")
        .filter(
            (F.col("inner_id") != F.col("outer_id"))
            & (F.col("inner_chars") < F.col("outer_chars"))
        )
        .select("inner_id", "outer_id")
        .dropDuplicates(["inner_id", "outer_id"])
    )
    texts = df.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_ttext"))
    verified = (
        cand.join(texts.withColumnRenamed("_tid", "inner_id").withColumnRenamed("_ttext", "_inner_text"), "inner_id")
        .join(texts.withColumnRenamed("_tid", "outer_id").withColumnRenamed("_ttext", "_outer_text"), "outer_id")
        .filter(F.instr(F.col("_outer_text"), F.col("_inner_text")) > 0)
        .select("inner_id", "outer_id")
    )
    return verified


def dedup_chunks_keep_first(
    df: DataFrame,
    chunk_tokens: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sub-document dedup TRANSFORM (CCNet-style paragraph/chunk removal):
    where :func:`chunk_dup_stats` only *reports* duplicated chunks, this
    removes them — every chunk occurrence that is not the globally FIRST
    occurrence of its fingerprint (order: ``(id, chunk_idx)`` ascending) is
    dropped, and each document's residual text is rebuilt from its
    surviving chunks in position order. The chunk grid is non-overlapping
    (reconstruction would double tokens otherwise), i.e. chunk ``i`` covers
    tokens ``[i*chunk_tokens, (i+1)*chunk_tokens)``.

    Output: (id_col, n_chunks, n_kept, n_tokens_kept, residual_text).

    Plan / 100 TB notes: chunk text reduces to a 16-byte md5 map-side, so
    the keep-first shuffle carries only (fp, id, chunk_idx) rows; the
    winner per fingerprint is a window ``row_number`` over the fp-keyed
    exchange (boilerplate-heavy fingerprints are data-skew on that key —
    AQE's skew handling splits them, and the window itself is a streaming
    rank, not a buffered collect). Kept-chunk indices fold back to one
    small array per document (bounded by n_chunks), and the residual text
    is re-sliced from the ORIGINAL token array in the doc-keyed join — the
    full text crosses the wire exactly once, chunk text never does."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    from pyspark.sql import Window

    from hdp2_5_hive2_spark.llm.text import chunk_documents, tokens as _tokens

    chunks = chunk_documents(
        df, text_col=text_col, id_col=id_col, chunk_tokens=chunk_tokens, overlap=0
    ).select(id_col, "chunk_idx", F.md5("chunk_text").alias("fp"))
    first = Window.partitionBy("fp").orderBy(
        F.col(id_col).asc(), F.col("chunk_idx").asc()
    )
    decided = chunks.withColumn(
        "_kept", F.row_number().over(first) == F.lit(1)
    )
    per_doc = decided.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sort_array(
            F.collect_list(F.when(F.col("_kept"), F.col("chunk_idx")))
        ).alias("_kept_idx"),
    )
    toks = _tokens(F.col(text_col))
    rebuilt = (
        df.select(id_col, toks.alias("_toks"))
        .join(per_doc, id_col)
        .select(
            id_col,
            "n_chunks",
            F.size("_kept_idx").alias("n_kept"),
            F.flatten(
                F.transform(
                    "_kept_idx",
                    lambda i: F.slice(
                        F.col("_toks"), i * chunk_tokens + 1, chunk_tokens
                    ),
                )
            ).alias("_kept_toks"),
        )
    )
    return rebuilt.select(
        id_col,
        "n_chunks",
        "n_kept",
        F.size("_kept_toks").alias("n_tokens_kept"),
        F.array_join("_kept_toks", " ").alias("residual_text"),
    )


def minhash_lsh_pairs_cross(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.8,
    n_shingle: int = 3,
) -> DataFrame:
    """Incremental-ingest near-dedup: MinHash+LSH candidates between a NEW
    batch and an EXISTING reference corpus only — no new×new and no
    ref×ref pairs, which is what makes this the production crawl-ingest
    path (the reference side's signatures are computed once and act as the
    standing index; each incoming batch bucket-joins against it instead of
    re-deduping the whole corpus quadratically).

    Returns (new_id, ref_id, jaccard) with jaccard >= threshold, exact-
    Jaccard verified — same guarantee as :func:`minhash_lsh_pairs`, so the
    output equals the exhaustive exact new×ref scan at the same threshold.

    Scale notes: both sides reduce to (id, band_id, band_hash) 20-byte
    rows map-side (one Arrow pass each; the ref side's pass is the
    once-per-index cost — persist its banded frame across batches);
    the bucket join shuffles ids only, and verification re-shingles just
    the candidate documents from each side."""
    b_new = _minhash_banded(
        new_df, text_col, id_col, num_hashes, bands, n_shingle=n_shingle
    ).transform(plan_checkpoint)
    b_ref = _minhash_banded(
        ref_df, text_col, id_col, num_hashes, bands, n_shingle=n_shingle
    ).transform(plan_checkpoint)
    cand_ids = (
        b_new.select(F.col("id").alias("new_id"), "band_id", "band_hash")
        .join(
            b_ref.select(F.col("id").alias("ref_id"), "band_id", "band_hash"),
            ["band_id", "band_hash"],
        )
        .select("new_id", "ref_id")
        .dropDuplicates(["new_id", "ref_id"])
        # feeds both semi-join probes AND the verify join — materialize
        # once (guide §3.3), as in minhash_lsh_pairs
        .transform(plan_checkpoint)
    )
    new_docs = new_df.join(
        cand_ids.select(F.col("new_id").alias("cid")),
        F.col(id_col) == F.col("cid"),
        "leftsemi",
    )
    ref_docs = ref_df.join(
        cand_ids.select(F.col("ref_id").alias("cid")),
        F.col(id_col) == F.col("cid"),
        "leftsemi",
    )
    sh_new = shingle_sets(new_docs, text_col, id_col, n=n_shingle).select(
        F.col("id").alias("new_id"), F.col("sh").alias("sh_n")
    )
    sh_ref = shingle_sets(ref_docs, text_col, id_col, n=n_shingle).select(
        F.col("id").alias("ref_id"), F.col("sh").alias("sh_r")
    )
    jac = F.size(F.array_intersect("sh_n", "sh_r")) / F.size(
        F.array_union("sh_n", "sh_r")
    )
    return (
        cand_ids.join(sh_new, "new_id")
        .join(sh_ref, "ref_id")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "ref_id", "jaccard")
    )


def deletion_variants(term: Column) -> Column:
    """FastSS k=1 candidate keys for a term: the term itself plus every
    single-character-deletion variant, distinct (Bocek et al. 2007 "Fast
    Similarity Search"). Two terms at Levenshtein distance <= 1 ALWAYS
    share a key (deletion: b = del_i(a); insertion: symmetric; substitution:
    del at the differing position of both), so joining on these keys is a
    complete candidate generator. Column algebra only — meant for
    VOCAB-sized frames, where the interpreted-HOF cost is bounded by
    |vocab| x term length, never the corpus."""
    dels = F.transform(
        F.sequence(F.lit(1), F.length(term)),
        lambda i: F.concat(
            F.substring(term, F.lit(1), i - 1),
            F.substring(term, i + 1, F.length(term)),
        ),
    )
    return F.array_distinct(F.concat(F.array(term), dels))


def fuzzy_term_pairs(
    left: DataFrame,
    right: DataFrame,
    term_col: str = "term",
) -> DataFrame:
    """All (left term, right term) pairs at Levenshtein distance EXACTLY 1 —
    the typo/variant matcher behind fuzzy vocabulary merging and
    spell-variant dedup. Returns (term_a, term_b) with term_a from `left`.

    Plan (the reason this scales): instead of the quadratic
    cross-join-and-levenshtein the semantics describe, both vocabularies
    explode into their FastSS deletion neighborhoods (|term|+1 keys each)
    and equi-join on the key — candidates are then verified with ONE
    `levenshtein()` call per candidate, and the candidate count is bounded
    by key collisions, not |A| x |B|. Both sides are vocab-sized
    (post-aggregation), so at 100 TB the corpus contributes only its
    distinct-term extraction; the neighborhood join never sees documents."""
    lt = left.select(F.col(term_col).alias("term_a")).distinct()
    rt = right.select(F.col(term_col).alias("term_b")).distinct()
    lk = lt.select("term_a", F.explode(deletion_variants(F.col("term_a"))).alias("k"))
    rk = rt.select("term_b", F.explode(deletion_variants(F.col("term_b"))).alias("k"))
    return (
        lk.join(rk, "k")
        .select("term_a", "term_b")
        .distinct()
        .filter(F.levenshtein("term_a", "term_b") == 1)
    )


def setsim_join_pairs(
    df: DataFrame,
    tau_num: int = 1,
    tau_den: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT set-similarity self-join with PREFIX FILTERING (the
    PPJoin/AllPairs family — Bayardo et al. WWW'07, Xiao et al. WWW'08):
    all document pairs whose whitespace-token-set Jaccard is >= tau,
    found WITHOUT the all-pairs product. The threshold is the rational
    ``tau_num/tau_den`` so the final test is pure integer arithmetic
    (``tau_den * inter >= tau_num * union``) — no float threshold edge,
    identical decisions on any engine.

    Why it is exact: Jaccard >= t implies the overlap is >= ceil(t*|x|)
    for BOTH sets of the pair (union >= max(|x|,|y|)), and any two sets
    with overlap >= a must share a token among the first |x|-a+1 in ANY
    shared total token order. We order tokens by (document frequency,
    token) ascending — rarest first — so prefixes carry the most
    selective tokens and candidate fan-out collapses.

    Output: (da, db, inter, uni, jaccard), da < db.

    Plan / 100 TB notes: candidate generation joins only PREFIX tokens
    (|x| - ceil(t|x|) + 1 per doc — at t=0.5, half the tokens; at t=0.9,
    a tenth), keyed by rare-first tokens whose buckets are small by
    construction. The df table joins token-keyed (shuffle join — vocab
    scales past broadcast). Verification joins the candidate pairs back
    to per-doc sorted token arrays and intersects JVM-side
    (array_intersect); arrays are doc-sized, never group-sized, and are
    built for CANDIDATE documents only — a semi-join on the candidate
    ids prunes toks before the collect_list agg (prune the big side
    before its shuffle: at scale candidates are a sliver of the corpus,
    so the verify-side agg builds arrays for that sliver, not every
    document). Nothing pins the semi-join's strategy: the static plan is
    a sort-merge semi-join, which AQE may turn into a broadcast at
    runtime when the probe side is small. Either way toks crosses one
    exchange on ``_id`` (the sort-merge join's, which the agg reuses, or
    the agg's own). Three corpus-sized shuffles total: df count, prefix
    self-join, and the pruned verify build."""
    if not (0 < tau_num <= tau_den):
        raise ValueError("tau must be in (0, 1]")
    # toks feeds the df-count agg, the ranked join AND the verify sets —
    # materialize the explode once (guide §3.3); at scale this trades a
    # (doc, token)-sized local materialization for two re-explodes of the
    # corpus.
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), r"\s+"))
        ).alias("_tok"),
    ).transform(plan_checkpoint)
    dfreq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    wdoc = Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("_tok").asc())
    wsz = Window.partitionBy("_id")
    ranked = (
        toks.join(dfreq, "_tok")
        .select(
            "_id",
            "_tok",
            F.row_number().over(wdoc).alias("_pos"),
            F.count(F.lit(1)).over(wsz).alias("_n"),
        )
    )
    prefix_len = F.col("_n") - F.ceil(F.col("_n") * tau_num / tau_den) + 1
    # pref joins itself; without materialization the whole window+join
    # subtree above runs once per self-join side (guide §3.3 — half of
    # llm_setsim_join's 11 Exchanges).
    pref = (
        ranked.where(F.col("_pos") <= prefix_len)
        .select("_id", "_tok", "_n")
        .transform(plan_checkpoint)
    )
    cand = (
        pref.alias("a")
        .join(pref.alias("b"), "_tok")
        .where(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("da"),
            F.col("b._id").alias("db"),
            F.col("a._n").alias("na"),
            F.col("b._n").alias("nb"),
        )
        .where(
            (F.col("nb") * tau_num <= F.col("na") * tau_den)
            & (F.col("na") * tau_num <= F.col("nb") * tau_den)
        )
        .distinct()
        # cand feeds the semi-join probe below AND the verify join.
        .transform(plan_checkpoint)
    )
    # Build verify token arrays for CANDIDATE docs only (guide §3.2: prune
    # the big side before its shuffle): non-candidate ids can never match
    # the verify equi-joins, so the collect_list agg — previously one
    # sorted array per CORPUS document — builds arrays for touched docs
    # only. The prune costs no extra exchange on toks: a sort-merge semi-join
    # partitions toks on _id, which the agg reuses; a broadcast one (AQE's
    # runtime choice for a small probe side, not pinned here) leaves that
    # exchange to the agg.
    touched = cand.select(F.col("da").alias("cid")).union(
        cand.select(F.col("db").alias("cid"))
    )
    sets = (
        toks.join(touched, F.col("_id") == F.col("cid"), "leftsemi")
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("_tok")).alias("_set"))
        .transform(plan_checkpoint)
    )
    inter = F.size(F.array_intersect(F.col("sa._set"), F.col("sb._set")))
    verified = (
        cand.join(sets.alias("sa"), F.col("da") == F.col("sa._id"))
        .join(sets.alias("sb"), F.col("db") == F.col("sb._id"))
        .select(
            "da",
            "db",
            inter.cast("bigint").alias("inter"),
            (F.col("na") + F.col("nb") - inter).cast("bigint").alias("uni"),
        )
        .where(F.col("inter") * tau_den >= F.col("uni") * tau_num)
    )
    return verified.select(
        "da",
        "db",
        "inter",
        "uni",
        (F.col("inter").cast("double") / F.col("uni")).alias("jaccard"),
    )


def exact_substring_spans(
    docs: DataFrame,
    min_len: int = 60,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr span detection (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): find every maximal
    span whose text of length >= ``min_len`` occurs elsewhere in the
    corpus (other documents OR a repeat within the same document).

    The reference tool builds one giant suffix array on a single large
    machine; the distributed re-expression rests on an exactness
    lemma: a duplicated substring of length >= L exists iff one of its
    length-EXACTLY-L windows is duplicated. So hash every length-L
    window to a 128-bit key, keep windows whose key count is > 1, and
    merge overlapping/adjacent window positions per document into
    maximal spans (gaps-and-islands: a new island starts when the
    position gap exceeds L).

    Returns (id_col, span_start 0-based, span_len) — one row per
    maximal duplicated span.

    The key is two xxhash64 of the window's UTF-8 bytes under different
    seeds, (h1, h2). Exactness holds unless two DISTINCT windows share
    the key. Treating the two seeded hashes as independent, that chance
    over n windows is about n^2/2^129 — about 1.5e-11 for the ~1e14
    windows of a 100 TB corpus — the same bound as the md5 key
    (128 bits, n^2/2^129) that the DuckDB oracle keeps. One 64-bit hash
    alone would be n^2/2^65: ~2.7e8 expected colliding pairs at that
    scale. (Neither hash resists crafted collisions.)

    Parallelism: the window pass is fenced (llm.text._arrow_fence) —
    a small input such as a single-file, single-row-group scan is
    round-robined to the session width before the explode, so the
    O(corpus bytes) explode + hash + shuffle write runs in that many
    tasks instead of one; a large input (already >= width splits)
    passes through unshuffled.

    100 TB notes: the window explode is pure codegen (sequence +
    substring + xxhash64 — no Python), emitting ~(bytes of corpus)
    rows of (two 8-byte hash longs, packed id|pos); the single wide
    shuffle on the hash key is the inherent cost of exact (not
    approximate) substring dedup — what the suffix array trades RAM
    for on one box, this trades shuffle for across a cluster.
    Count-over-hash-partition keeps it to ONE exchange before the
    per-doc island pass (a second, narrow shuffle on id). (id, pos)
    travel both exchanges as ONE packed bigint ``ip = id<<32 | pos``
    (guide §2.3 narrower types: one 8-byte UnsafeRow slot instead of
    two) — pos < 2^31 always (string length is a signed int) and ids
    outside [0, 2^31) raise loudly per document BEFORE the explode, so
    unpacking is exact by construction. Within a document ip orders
    exactly as pos, so the island pass lags/aggregates the packed value
    directly. Near-dup pipelines that can tolerate approximation should
    prefer minhash_lsh_pairs; this is the exact-span tool."""
    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be >= 2")
    id_ok = (F.col(id_col) >= 0) & (F.col(id_col) < F.lit(1 << 31))
    base = _arrow_fence(
        docs.where(F.length(text_col) >= L).select(
            # loud per-DOC guard, in its own Project below the explode so
            # it runs once per document, not once per window row: the
            # bigint packing below is bijective only for 31-bit ids.
            F.when(id_ok, F.col(id_col).cast("bigint"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "exact_substring_spans: id out of [0, 2^31) "
                            "packing range: "
                        ),
                        # a NULL id must not turn the message NULL too
                        F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                    )
                )
            )
            .alias("_id"),
            F.col(text_col).alias("_t"),
        )
    )
    sub = F.expr(f"substring(_t, p + 1, {L})")
    win = base.select(
        "_id",
        "_t",
        F.explode(F.sequence(F.lit(0), F.length("_t") - F.lit(L))).alias("p"),
    ).select(
        F.shiftleft(F.col("_id"), 32)
        .bitwiseOR(F.col("p").cast("bigint"))
        .alias("ip"),
        # the 128-bit window key: two xxhash64 of the window's UTF-8
        # bytes, the second seeded differently by hashing lit(1) first.
        # Cheaper to compute than md5, and two fixed-width longs sort and
        # partition faster than a 16-byte binary.
        F.xxhash64(sub).alias("h1"),
        F.xxhash64(F.lit(1), sub).alias("h2"),
    )
    dup = (
        win.withColumn(
            "c", F.count(F.lit(1)).over(Window.partitionBy("h1", "h2"))
        )
        .where(F.col("c") > 1)
        # unpack the doc id as a named column BEFORE the island windows:
        # both Window ops and the final groupBy then key on the same
        # attribute and share ONE exchange (an expression partitionBy
        # would mint a fresh _w0 alias per Window = 3 exchanges).
        .select("ip", F.shiftright("ip", 32).alias("_id"))
    )
    # lag/gap arithmetic on ip is exact pos arithmetic: within one doc
    # (one window partition) ip = const<<32 | pos, so ip - prev == p - prev.
    byid = Window.partitionBy("_id").orderBy("ip")
    grp = (
        dup.withColumn("prev", F.lag("ip").over(byid))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("ip") - F.col("prev") > L), 1
            ).otherwise(0),
        )
        .withColumn("g", F.sum("brk").over(byid))
    )
    pos_mask = F.lit((1 << 32) - 1)
    return (
        grp.groupBy("_id", "g")
        .agg(
            # min/max of ip within a (doc, island) group are the rows of
            # min/max pos — the id prefix is constant inside the group.
            F.min("ip").bitwiseAND(pos_mask).alias("span_start"),
            (
                F.max("ip").bitwiseAND(pos_mask)
                + L
                - F.min("ip").bitwiseAND(pos_mask)
            ).alias("span_len"),
        )
        .select(
            F.col("_id").cast(docs.schema[id_col].dataType).alias(id_col),
            F.col("span_start").cast("bigint"),
            F.col("span_len").cast("bigint"),
        )
    )


def cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove the given (span_start, span_len) character ranges from each
    document's text — the ExactSubstr CUT step. The policy question
    (cut every occurrence, as the released deduplicate-text-datasets
    tool does, vs keep one canonical copy) belongs to the caller: pass
    the spans frame filtered accordingly. Documents with no spans pass
    through unchanged; a document cut to empty text survives as ''.

    Scale: spans per doc are collected into one array per document
    (bounded by doc length / min_len) and applied in ONE codegen pass —
    aggregate() folds the sorted span array into the kept text."""
    agg = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_len"))
        ).alias("_spans")
    )
    # fold sorted spans: carry (kept-so-far, cursor); append the slice
    # between the previous cut end and this span's start.
    fold = F.expr(
        f"""aggregate(
              _spans,
              named_struct('kept', CAST('' AS STRING), 'cur', 0L),
              (acc, s) -> named_struct(
                  'kept', concat(acc.kept,
                                 substring({text_col},
                                           CAST(acc.cur AS INT) + 1,
                                           CAST(greatest(s.span_start - acc.cur, 0)
                                                AS INT))),
                  'cur', greatest(s.span_start + s.span_len, acc.cur)),
              acc -> concat(acc.kept,
                            substring({text_col}, CAST(acc.cur AS INT) + 1,
                                      length({text_col}))))"""
    )
    return (
        docs.join(agg, id_col, "left")
        .withColumn(
            text_col,
            F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(fold),
        )
        .drop("_spans")
    )
