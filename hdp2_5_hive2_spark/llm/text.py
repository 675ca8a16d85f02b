"""Text analysis operators: tokenize, quality score, language ID,
fingerprint, n-grams.

Parity/heritage: Hive's sentences/ngrams/context_ngrams
(FunctionRegistry.java:398-399, :432 in /root/reference) are the reference's
text surface; these operators generalize them for training-data pipelines.

Everything is built from built-in `pyspark.sql.functions` (JVM, codegen'd) —
no Python UDFs — so the hot path stays in whole-stage codegen and scales
linearly with input splits; none of these operators shuffle except the
n-gram aggregation (one shuffle on the n-gram key).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _max_partition_bytes(spark) -> int:
    raw = str(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    ).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("b", 1),
    ):
        if raw.endswith(suf):
            raw = raw[: -len(suf)]
            mult = m
            break
    return int(raw) * mult


# Plan tests flip this to inspect full plans; operators honor it via
# plan_checkpoint. SPARK_GRAFT_LINEAGE=1 disables every reused-frame
# materialization at session start: localCheckpoint blocks have NO lineage,
# so at real scale an executor loss fails the job instead of recomputing —
# the knob trades the re-execution savings back for full fault tolerance
# (VERDICT r13 What's-wrong #2; policy paragraph in PERF.md). Default
# unchanged: materialize (the bench/local mode has no executor-loss risk).
_MATERIALIZE_REUSED = os.environ.get("SPARK_GRAFT_LINEAGE", "") != "1"


def plan_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint for a frame consumed by 2+ downstream subtrees
    (guide §3.3: materialize a reused intermediate so its upstream is not
    planned and executed once per consumer). Structural plan tests set
    ``_MATERIALIZE_REUSED = False`` to see the un-materialized plan — as
    does ``SPARK_GRAFT_LINEAGE=1`` (lineage-preserving mode for clusters
    where executor loss must recompute, not fail); the computation is
    identical either way.

    NOT LAZY UNDER AQE: ``eager=False`` only defers the RDD's own
    materialization. Building the checkpointed Dataset calls
    ``physicalPlan.execute()``, and with AQE on that runs every upstream
    shuffle stage at the call site — e.g. a groupBy checkpointed lazily and
    then counted is 1 job at the checkpoint plus 2 at the action (AQE off:
    0 plus 1). So an operator that checkpoints shuffle-fed frames submits
    jobs while it is still being BUILT: all 10 build-phase jobs of
    ``llm_semantic_dedup_lsh`` (sf0.01, local[2]) are submitted inside
    ``curation.connected_components``, at its checkpoints and per-round
    convergence probes. Those checkpoints pay for themselves: with
    ``SPARK_GRAFT_LINEAGE=1`` (no materialization) the warm op went from
    2.6-2.9 s to 6.2-7.3 s (build plus action, 4-core host) and its action
    from 6 jobs to 12, because every round re-runs the whole label
    lineage.

    DETERMINISM PRECONDITION (ADVICE r13): the checkpoint's partitions are
    computed by more than one job — shuffle-fed stages at the call site,
    the final stage under whichever action first scans each partition (a
    take(1) probe computes one partition; the rest materialize later under
    other jobs). Every upstream fed through here must therefore be
    set-deterministic — no sample(), no first/collect_list-order
    dependence, no rand() — or partitions computed by different jobs could
    disagree. All current call sites satisfy this (hash/agg/join pipelines
    over deterministic inputs)."""
    return df.localCheckpoint(eager=False) if _MATERIALIZE_REUSED else df


def _arrow_fence(df: DataFrame) -> DataFrame:
    """Parallelism fence for any per-row-heavy map stage — an Arrow kernel
    (mapInPandas) or a codegen one such as exact_substring_spans' window
    explode: a map stage inherits the input partitioning, so a small input
    (a single-file fixture scan) would run it as ONE serial task —
    repartition those up to the session shuffle width. A LARGE input (the
    100 TB case: a scan carrying thousands of splits, or a shuffle-width
    intermediate) passes through untouched — repartitioning would shuffle
    every byte of text for nothing. Size >= width * maxPartitionBytes
    means the scan already yields at least the session width in splits.
    The size comes from Catalyst's optimizer statistics (sizeInBytes, a
    ~10 ms metadata lookup) — NOT from df.rdd, whose per-DataFrame
    physical-planning cost (~40-80 ms, r7 profiling in PERF.md) measurably
    dragged small-query bench times when this fence briefly probed
    partition counts.

    Unknown stats are NOT "huge": non-file-backed plans (LogicalRDD /
    createDataFrame inputs) report sizeInBytes = spark.sql.defaultSizeInBytes,
    which defaults to Long.MaxValue — exactly the small in-memory frames the
    fence exists to parallelize. And the sentinel rarely survives verbatim:
    every kernel calls the fence on df.select(id, text), and Catalyst scales
    a Project's estimate by the column-width ratio, so a 4-column
    createDataFrame selected to 2 columns reports ~sentinel/2 (ADVICE r8).
    Any estimate within sentinel >> 10 of it (>= ~9 PB with the default) is
    therefore treated as unknown-small too — no real per-kernel input
    reaches petabytes in one fence call (100 TB corpus scans carry
    file-backed stats orders of magnitude below the ceiling).

    Canonical definition (dedup/curation/similarity import it from here —
    text sits at the bottom of the llm import graph)."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    est = int(
        str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    unknown = int(
        df.sparkSession.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1))
    )
    if n * _max_partition_bytes(df.sparkSession) <= est < (unknown >> 10):
        return df
    return df.repartition(n)

# Tiny deterministic stopword lists per language — enough for a demonstrable
# n-gram-heuristic language ID; swap for real lists in production.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "fr": ("le", "la", "de", "et", "un", "être", "que", "pour", "dans", "ce"),
    "de": ("der", "die", "und", "in", "den", "von", "zu", "das", "mit", "sich"),
    "zh": ("的", "一", "是", "不", "了", "人", "我", "在", "有", "他"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenizer (split on 1+ whitespace, trimmed)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(col), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenizer classes (letters / digits / other runs with an
# optional leading space) — the standard BPE input segmentation, restricted
# to ASCII classes so Java and RE2 regex engines agree byte-for-byte.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def bpe_ish_token_count(text: Column | str) -> Column:
    """Pre-tokenizer token count the way a BPE pipeline would segment the
    text (before merges): letter runs, digit runs, punctuation runs, each
    with an optional leading space. On whitespace-only corpora this equals
    the whitespace count; on punctuated text it counts punctuation runs
    separately — the number a training-data token budget actually uses."""
    col = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/char statistics (exact integer/ratio arithmetic)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    n_spaces = n_chars - F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "n_chars_txt": n_chars,
            "n_spaces": n_spaces,
            # avg token length: exact single division over exact ints
            "avg_token_len": (n_chars - n_spaces) / n_tok,
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality heuristics: length band, mean token length band,
    stopword hit ratio. Mirrors common LLM-corpus filters (C4/Gopher rules)."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    en_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS["en"]])))
    alpha_chars = F.length(F.regexp_replace(F.col(text_col), r"[^a-zA-Z]", ""))
    score = (
        F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(1)).otherwise(F.lit(0))
        + F.when(en_hits > 0, F.lit(1)).otherwise(F.lit(0))
        + F.when(alpha_chars * 2 > F.length(text_col), F.lit(1)).otherwise(F.lit(0))
    )
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "stopword_hits": en_hits,
            "alpha_chars": alpha_chars,
            "quality_score": score,
            "keep": score >= 2,
        }
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-heuristic language ID: count distinct-stopword hits per language,
    pick the argmax (deterministic tie-break by language code).

    At 100 TB this is a pure map-side operator — the stopword arrays are
    compile-time literals inside codegen, no broadcast or shuffle at all."""
    toks = tokens(text_col)
    hit_cols = {
        f"hits_{lang}": F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        )
        for lang, words in STOPWORDS.items()
    }
    df = df.withColumns(hit_cols)
    # argmax with lexicographic tie-break: compare (hits, -ord) via struct max
    best = F.greatest(
        *[
            F.struct(
                F.col(f"hits_{lang}").alias("h"),
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(STOPWORDS))
        ]
    )
    return df.withColumn("lang_pred", F.when(best.getField("h") > 0, best.getField("lang")).otherwise(F.lit("und")))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over case/whitespace-normalized text plus a
    coarse length bucket — the exact-dedup key."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumns(
        {
            "fp_md5": F.md5(normalized),
            "len_bucket": (F.length(normalized) / 64).cast("int"),
        }
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 3, w: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprinting with winnowing (the MOSS
    algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every k-token
    shingle, slide a window of w hashes, keep each window's minimum, and
    the distinct minima are the document's fingerprint set. Guarantees any
    shared run of >= k+w-1 tokens between two documents yields at least one
    shared fingerprint — the sub-document overlap detector that whole-doc
    md5 (``fingerprint``) cannot provide.

    Hash = first 8 hex chars of md5 over the space-joined shingle, compared
    lexicographically — identical on the JVM and in the DuckDB oracle, no
    integer conversion needed. Adds ``fps`` (sorted distinct fingerprints)
    and ``n_kgrams``. Documents shorter than k tokens get an empty set;
    documents with fewer than w shingles fingerprint the single overall
    minimum (standard winnowing edge rule).

    Execution: ONE Arrow-batched pandas_udf pass (the same shape as the
    MinHash signature kernel in llm.dedup) rather than built-in
    higher-order functions. The HOF formulation was tried first and
    measured: transform-lambdas evaluate INTERPRETED, and Catalyst's
    Generate/Project inlining re-expands the shingle-hash array into every
    consumer, re-running the md5s once per window — O(n_tokens²)
    interpreted hashing per document (22 s for 500 sf0.01 docs; ~20 s even
    with a projection barrier once an explode consumes the result). The
    Arrow pass hashes each shingle exactly once in Python (~0.3 s for the
    same input) and its output is a physical attribute no optimizer rule
    can re-inline.

    100 TB plan: map-side only — no shuffle, no driver state; Arrow batch
    transfer amortizes the Python boundary. Downstream overlap detection
    joins on the 8-char fingerprint — see queries
    llm_winnowing_fingerprint / llm_fingerprint_overlap."""
    import hashlib
    import re as _re

    import pandas as pd

    # real annotation objects: the module-level `from __future__ import
    # annotations` would leave strings pandas_udf cannot resolve (pd is a
    # function-local import)
    def _winnow(texts):
        out_n: list[int] = []
        out_fps: list[list[str]] = []
        for t in texts:
            # faithful to tokens(): F.trim strips SPACES only, and split on
            # \s+ keeps a leading empty token after a non-space separator
            toks = _re.split(r"\s+", (t or "").strip(" "))
            n_grams = len(toks) - (k - 1)
            if n_grams <= 0:
                out_n.append(0)
                out_fps.append([])
                continue
            grams = [
                hashlib.md5(" ".join(toks[i : i + k]).encode("utf-8")).hexdigest()[:8]
                for i in range(n_grams)
            ]
            if len(grams) < w:
                fps = [min(grams)]
            else:
                fps = sorted(
                    {min(grams[j : j + w]) for j in range(len(grams) - w + 1)}
                )
            out_n.append(n_grams)
            out_fps.append(fps)
        return pd.DataFrame({"n_kgrams": out_n, "fps": out_fps})

    _winnow.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    _winnow = F.pandas_udf(_winnow, "struct<n_kgrams:int, fps:array<string>>")
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return (
        df.withColumn("_w", _winnow(col))
        .withColumns(
            {"n_kgrams": F.col("_w.n_kgrams"), "fps": F.col("_w.fps")}
        )
        .drop("_w")
    )


# ASCII-only patterns so the Java (Spark) and RE2 (DuckDB oracle) regex
# engines agree byte-for-byte; \b is the ASCII word boundary in both.
EMAIL_RX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RX = r"\b[0-9]{3}-[0-9]{4}\b"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub for training corpora: count and redact email addresses and
    phone-shaped tokens with built-in regexp functions — a pure map-side
    operator (no UDF, no shuffle) that codegens with the rest of the stage.

    Emails are redacted before phones so a digit run inside a local part is
    consumed by the email pattern, never double-redacted — and n_phones is
    counted on the email-redacted intermediate for the same reason, so the
    counts always agree with what clean_text actually replaced (a
    phone-shaped token inside an email local part is one email, zero
    phones)."""
    col = F.col(text_col)
    email_clean = F.regexp_replace(col, EMAIL_RX, "<EMAIL>")
    return df.withColumns(
        {
            "n_emails": F.size(F.regexp_extract_all(col, F.lit(EMAIL_RX), F.lit(0))),
            "n_phones": F.size(
                F.regexp_extract_all(email_clean, F.lit(PHONE_RX), F.lit(0))
            ),
            "clean_text": F.regexp_replace(email_clean, PHONE_RX, "<PHONE>"),
        }
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters: duplicate-token fraction and
    duplicate-bigram fraction per document (high values flag boilerplate /
    degenerate text). Array built-ins only — distinct counts come from
    array_distinct on the token/bigram arrays, and each fraction is a single
    exact int/int division, so the oracle matches bitwise."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    # bigrams as adjacent-token struct pairs via arrays_zip(slice, slice):
    # lambda-free, so the whole expression stays in codegen (ngrams_col's
    # transform(...) lambda would evaluate interpreted); distinct pair
    # count == distinct "a b" string count since tokens contain no spaces
    big = F.arrays_zip(F.slice(toks, 1, n_tok - 1), F.slice(toks, 2, n_tok - 1))
    n_big = F.size(big)
    n_uniq_big = F.size(F.array_distinct(big))
    return df.withColumns(
        {
            "n_tokens": n_tok,
            "dup_token_frac": (n_tok - n_uniq) / n_tok,
            "dup_bigram_frac": F.when(n_tok >= 2, (n_big - n_uniq_big) / n_big)
            .otherwise(F.lit(0.0)),
        }
    )


def ngrams_col(text: Column | str, n: int = 2) -> Column:
    """Token n-grams as an array column (parity with Hive's ngrams UDAF input,
    FunctionRegistry.java:398)."""
    toks = tokens(text)
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20) -> DataFrame:
    """Top-k token n-grams by frequency (ngrams UDAF equivalent).

    N-gram emission runs as an Arrow kernel that pre-aggregates counts per
    batch (a map-side combine in Python — the Counter is the partial
    aggregate), so the shuffle carries one row per distinct n-gram per
    batch, and Catalyst's final agg + TakeOrderedAndProject produce the
    top-k. The Column-expression form (ngrams_col + explode) is the
    semantic spec but evaluates interpreted (~7 s vs <1 s at sf0.1)."""
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd


    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counts: Counter = Counter()
            for t in pdf[text_col]:
                toks = t.split() if isinstance(t, str) else []
                counts.update(
                    " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
                )
            if counts:
                yield pd.DataFrame(
                    {"ngram": list(counts.keys()), "c": list(counts.values())}
                )

    return (
        _arrow_fence(df.select(text_col))
        .mapInPandas(gen, "ngram string, c long")
        .groupBy("ngram")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(k)
    )


def context_ngrams(
    df: DataFrame,
    context: list[str | None],
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Hive context_ngrams (FunctionRegistry.java:399): top-k n-grams
    matching a context pattern, where None marks the wildcard slots —
    e.g. ["the", None] = most frequent words following "the". Same Arrow
    kernel + Catalyst final-agg shape as top_ngrams; the emitted key is the
    wildcard fill only."""
    from collections import Counter
    from collections.abc import Iterator

    import pandas as pd

    n = len(context)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            counts: Counter = Counter()
            for t in pdf[text_col]:
                toks = t.split() if isinstance(t, str) else []
                for i in range(len(toks) - n + 1):
                    window = toks[i : i + n]
                    if all(c is None or c == w for c, w in zip(context, window)):
                        counts.update(
                            [" ".join(w for c, w in zip(context, window) if c is None)]
                        )
            if counts:
                yield pd.DataFrame(
                    {"ngram": list(counts.keys()), "c": list(counts.values())}
                )

    return (
        _arrow_fence(df.select(text_col))
        .mapInPandas(gen, "ngram string, c long")
        .groupBy("ngram")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 100,
    overlap: int = 20,
) -> DataFrame:
    """Fixed-size token chunking with overlap (RAG / context-window prep):
    one row per chunk — (id, chunk_idx, n_chunk_tokens, chunk_text).

    Chunk i covers tokens [i*(chunk_tokens-overlap), ... +chunk_tokens);
    the final chunk may be short; documents shorter than one chunk yield a
    single chunk. Pure JVM plan: tokenize once per document, explode the
    chunk-start sequence, slice + rejoin per chunk — zero shuffle, zero
    Python; chunk fan-out streams through the projection map-side.
    """
    if chunk_tokens <= 0 or overlap < 0 or overlap >= chunk_tokens:
        raise ValueError("need chunk_tokens > 0 and 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    # start indices 0, step, 2*step ... ; always at least one chunk; no chunk
    # starting at/after the end (last start <= n_tok-1)
    starts = F.sequence(F.lit(0), F.greatest(n_tok - 1, F.lit(0)), F.lit(step))
    exploded = df.select(
        F.col(id_col), toks.alias("_toks"), F.posexplode(starts).alias("chunk_idx", "_start")
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return exploded.select(
        id_col,
        "chunk_idx",
        F.size(chunk).alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Contiguous sequence packing (pretraining batch prep): documents are
    laid end-to-end in a deterministic order (md5(id), id — the same
    reproducible shuffle as stratified_sample) and cut into fixed
    ``seq_len``-token training sequences. Returns one row per document:
    (id, n_tokens, start_offset, bin_id, bin_end_id, spans_boundary) where
    start_offset is the document's global token offset, bin_id/bin_end_id
    the sequences containing its first/last token, and spans_boundary
    whether it straddles a cut.

    This is the non-greedy packing used at scale (greedy first-fit is
    inherently sequential). The global running offset is a two-phase
    distributed prefix sum — a bare `Window.orderBy(...)` cumsum would drag
    every row into ONE partition (Spark's "No Partition Defined" cliff):
      1. bucket = first 2 hex chars of md5(id): 256 buckets whose order is
         a prefix of the global (md5, id) order, so per-bucket cumsums
         (parallel window) compose into the global one;
      2. bucket base offsets = cumsum over the 256 bucket totals (driver-
         size aggregate, broadcast back).
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    from pyspark.sql import Window as W

    n_tok = F.size(tokens(F.col(text_col)))
    h = F.md5(F.col(id_col).cast("string"))
    base = df.select(
        F.col(id_col), n_tok.alias("n_tokens"), h.alias("_h"), F.substring(h, 1, 2).alias("_b")
    )
    in_bucket = W.partitionBy("_b").orderBy(F.col("_h").asc(), F.col(id_col).asc()).rowsBetween(
        W.unboundedPreceding, 0
    )
    bucket_order = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    bucket_bases = (
        base.groupBy("_b")
        .agg(F.sum("n_tokens").alias("_btot"))
        .withColumn("_base", F.coalesce(F.sum("_btot").over(bucket_order), F.lit(0)))
        .select("_b", "_base")
    )
    return (
        base.withColumn("_cum", F.sum("n_tokens").over(in_bucket))
        .join(F.broadcast(bucket_bases), "_b")
        .withColumn("start_offset", (F.col("_base") + F.col("_cum") - F.col("n_tokens")).cast("bigint"))
        .withColumn("bin_id", F.floor(F.col("start_offset") / seq_len).cast("bigint"))
        .withColumn(
            "bin_end_id",
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / seq_len).cast("bigint"),
        )
        .withColumn("spans_boundary", F.col("bin_end_id") > F.col("bin_id"))
        .select(id_col, "n_tokens", "start_offset", "bin_id", "bin_end_id", "spans_boundary")
    )


def normalize_text(
    text_col: Column | str,
    casefold: bool = True,
    collapse_ws: bool = True,
    strip_punct: bool = False,
) -> Column:
    """Dedup-grade text normalization (the step pipelines run before
    fingerprinting/MinHash): optional lowercasing, whitespace collapse, and
    ASCII punctuation strip. Pure codegen'd regexp/string built-ins; the
    character classes are spelled ASCII-explicitly so Java and other regex
    engines agree byte-for-byte."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if casefold:
        c = F.lower(c)
    if strip_punct:
        c = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", " ")
    if collapse_ws:
        c = F.regexp_replace(F.trim(c), r"\s+", " ")
    return c


def token_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram diversity via the Gini–Simpson index:
    1 - Σ(c_i/n)² = (n² - Σc_i²)/n² over within-document token counts — a
    repetition/gibberish filter (low diversity ⇒ few tokens dominate, the
    degenerate-text signature Gopher's repetition rules target) that
    complements :func:`repetition_stats`: dup_token_frac only sees WHETHER
    a token repeats, the Gini index weighs HOW unevenly (a doc that is 90%
    one token and a doc with every token exactly twice both have high dup
    fractions but very different Gini).

    Output: (id_col, n_tokens, n_distinct, gini). Every aggregate is an
    exact int64 (n, Σc², distinct count ≤ 2^53 far beyond any real doc) and
    the single closing division is one correctly-rounded IEEE op — the
    oracle matches bitwise, no ranking indirection needed.

    100 TB: explode → (doc, term) count → per-doc moment sums; both
    aggregations key on the document id (map-side partial combine, one
    logical shuffle partitioning reused), per-doc state is three longs. The
    document text itself never shuffles."""
    toks = df.select(id_col, F.explode(tokens(text_col)).alias("term"))
    per_term = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_term.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).alias("_sumsq"),
    )
    n = F.col("n_tokens")
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_distinct",
        ((n * n - F.col("_sumsq")).cast("double") / (n * n).cast("double")).alias(
            "gini"
        ),
    )


def top_ngram_fraction(
    df: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition filter (Rae et al. 2021, table A1): the
    fraction of a document's n-gram occurrences claimed by its single most
    frequent n-gram — degenerate/boilerplate text scores high. Complements
    :func:`repetition_stats` (which measures how many n-grams are
    duplicated at all, not how dominant the top one is).

    Output: (id_col, n_ngrams, top_ngram, top_count, top_frac); documents
    with fewer than ``n`` tokens yield no n-grams and are omitted. Count
    ties break on the lexicographically smallest n-gram (ASCII/binary
    collation on both engines).

    Plan / 100 TB notes: n-grams explode via ``arrays_zip`` over shifted
    ``slice`` views — lambda-free, so the whole expansion stays in
    whole-stage codegen (a ``transform()`` n-gram builder evaluates
    interpreted, PERF.md r5). One (id, ngram) shuffle with map-side
    partial counts; the per-doc argmax compiles to WindowGroupLimit."""
    if n < 1:
        raise ValueError("n must be >= 1")
    from pyspark.sql import Window as W

    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    # greatest(...,0): a doc shorter than n tokens yields empty views (and
    # no row after explode) instead of a negative-length slice error
    views = [
        F.slice(toks, i + 1, F.greatest(n_tok - n + 1, F.lit(0))) for i in range(n)
    ]
    grams = F.arrays_zip(*views) if n > 1 else F.arrays_zip(views[0])
    exploded = (
        df.select(F.col(id_col), F.explode(grams).alias("_g"))
        .select(id_col, F.concat_ws(" ", F.col("_g.*")).alias("ngram"))
    )
    counts = exploded.groupBy(id_col, "ngram").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = W.partitionBy(id_col)
    ranked = counts.withColumn(
        "_rn",
        F.row_number().over(per_doc.orderBy(F.desc("cnt"), F.asc("ngram"))),
    ).withColumn("n_ngrams", F.sum("cnt").over(per_doc))
    return ranked.filter(F.col("_rn") == 1).select(
        id_col,
        "n_ngrams",
        F.col("ngram").alias("top_ngram"),
        F.col("cnt").alias("top_count"),
        (F.col("cnt").cast("double") / F.col("n_ngrams")).alias("top_frac"),
    )


def canonicalize_url(url: Column | str) -> Column:
    """Crawl-style URL canonicalization (the normalization step before URL
    dedup in a web-corpus pipeline): lowercase scheme and host, drop
    default ports (http:80 / https:443), strip trailing path slashes, drop
    the fragment, remove ``utm_*`` tracking parameters and SORT the
    remaining query parameters. Pure column algebra (regexp extracts +
    array ops) — conservative ASCII regexes so Java regex and RE2 agree.

    Not a full RFC 3986 normalizer (no %-decoding, no IDN) — it is the
    deterministic 90% that collapses the duplicate-URL variants crawls
    actually produce."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1)
    )
    port = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.array_join(
        F.sort_array(
            F.filter(
                F.split(q, "&"),
                lambda p: (~p.startswith("utm_")) & (p != ""),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )
