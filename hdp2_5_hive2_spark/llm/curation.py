"""Corpus-curation operators for LLM training pipelines: eval-set
decontamination, duplicate-cluster resolution (connected components), and
deterministic stratified sampling.

Heritage: the reference has no curation surface; these extend the dedup /
similarity family (BASELINE.json north star) with the remaining operations a
production pretraining pipeline runs between "raw crawl" and "training mix":
  - decontamination: drop/flag training documents sharing long word n-grams
    with an evaluation suite (the standard n-gram-overlap protocol, n≈8-13).
  - duplicate clusters: near-dup *pairs* (MinHash/SimHash/shared-ngram) only
    say "a~b"; keeping one document per *transitive* cluster needs connected
    components over the pair graph.
  - stratified sampling: deterministic hash-ordered top-k per stratum for
    mixture weighting / budget capping — reproducible across runs, unlike
    ``df.sample``.

Scale notes (100 TB):
  - decontaminate: the training corpus flows through one Arrow n-gram pass
    (zero shuffle — n-grams are document-local) and is semi-joined against a
    BROADCAST eval n-gram set. Eval suites are small by construction (MMLU +
    friends ≈ 10^6 n-grams); the only shuffle is the per-document hit count
    over matched rows — a tiny fraction of the corpus.
  - shared_ngram_edges: document frequency is capped (``max_df``) before the
    n-gram self-join, so bucket fan-out is bounded by max_df² per n-gram —
    the same guard suffix-array dedup pipelines apply to boilerplate. The
    join shuffles (ngram, id) rows, never text.
  - connected_components: min-label propagation converges in O(graph
    diameter) rounds; near-dup graphs are overwhelmingly tiny star/chain
    clusters (diameter ≤ ~3), so 3-4 shuffle rounds close them. Each round
    is one join + one min-agg on (id, label) pairs; ``localCheckpoint``
    truncates lineage so round N's plan does not re-run rounds 1..N-1. For
    adversarially long chains use :func:`connected_components_star`
    (Kiveris et al. large-star/small-star — O(log) rounds regardless of
    diameter) — same contract, equality property-tested.
  - stratified_sample: one shuffle on the strata key; the ``row_number() <=
    k`` filter compiles to WindowGroupLimit (rank-limit pushdown), so each
    partition keeps a k-row heap instead of fully sorting its stratum.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hdp2_5_hive2_spark.llm.text import _arrow_fence, plan_checkpoint


def _shuffle_n(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


# Loud ceiling on decontaminate's driver-collected eval n-gram set: ~10M
# grams ≈ 0.5-1 GB of driver strings — the documented edge of the
# "eval suites are small by construction" contract (ADVICE r13).
_MAX_EVAL_NGRAMS = 10_000_000



def word_ngram_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 8
) -> DataFrame:
    """(id, ngram) rows — word n-grams, DISTINCT within each document.

    Delegates to ``word_ngram_counts`` (same Arrow kernel — the distinct
    set IS the counted dict's key set) and drops the count column, so the
    two n-gram emitters can never drift in tokenization. Documents with
    fewer than ``n`` tokens emit nothing.
    """
    return word_ngram_counts(df, text_col, id_col, n).select("id", "ngram")


def word_ngram_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """(id, ngram, cnt) rows — word n-gram OCCURRENCE counts per document
    (``word_ngram_rows`` is this minus the count column), for
    frequency-weighted consumers like LM scoring. One Arrow pass with a
    per-document Counter as the map-side partial; the leading repartition
    is a parallelism fence (a single small parquet file would otherwise run
    the kernel as one serial task — a round-robin shuffle of (id, text)
    rows, not a keyed shuffle of n-grams). Higher-order Column chains
    (transform/sequence/slice) evaluate interpreted in Catalyst (~ms/row on
    long documents), which is why this is Python batches instead.

    The id column keeps the INPUT id column's type (bigint doc ids,
    string source keys, …) — consumers like the source-overlap matrix
    group by non-numeric keys."""
    from collections import Counter

    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            grams: list[str] = []
            cnts: list[int] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = t.split() if isinstance(t, str) else []
                if len(toks) < n:
                    continue
                c = Counter(" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1))
                ids.extend([i] * len(c))
                grams.extend(c.keys())
                cnts.extend(c.values())
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="int64") if id_type == "bigint" else ids,
                    "ngram": grams,
                    "cnt": pd.array(cnts, dtype="int64"),
                }
            )

    return (
        _arrow_fence(df.select(id_col, text_col))
        .mapInPandas(gen, f"id {id_type}, ngram string, cnt bigint")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-training-document count of distinct word ``n``-grams shared with
    the evaluation set: (id_col, n_hit_ngrams), hit documents only.

    The eval n-gram set is broadcast (eval suites are small by construction)
    INTO the training corpus's Arrow pass as a Python set, so the training
    corpus never shuffles AND its n-grams never materialize as rows: each
    task streams its documents, probes the set per window, and emits one
    (id, n_hit_ngrams) row per hit document — already final, no join, no
    aggregation. (r13 optimization: the previous shape emitted every
    distinct train n-gram through Arrow into a broadcast hash join + count
    — the join was map-side, but the n-gram rows themselves were the cost.)
    Callers drop or down-weight the returned ids.

    Small-eval contract (ADVICE r13): the distinct eval n-gram set is
    collect()ed to the driver — MMLU-and-friends scale (≈10^6 grams) by
    design. The ``_MAX_EVAL_NGRAMS`` guard fails LOUDLY past 10M grams
    instead of silently OOMing the driver; an "eval" set that large is a
    corpus, and belongs on the shared_ngram_edges join path. The broadcast
    lives as long as the returned frame (the Arrow closure holds the only
    reference, so the ContextCleaner reclaims executor copies once the
    frame is garbage-collected); repeated calls do not accumulate.
    """
    spark = train.sparkSession
    ev_rows = (
        word_ngram_rows(eval_df, text_col, id_col, n)
        .select("ngram")
        .distinct()
        .limit(_MAX_EVAL_NGRAMS + 1)
        .collect()
    )
    if len(ev_rows) > _MAX_EVAL_NGRAMS:
        raise ValueError(
            f"decontaminate: eval suite exceeds {_MAX_EVAL_NGRAMS} distinct "
            f"{n}-grams — that is a corpus, not an eval set; use the "
            "shared_ngram_edges join path instead of driver broadcast"
        )
    ev_set = frozenset(r[0] for r in ev_rows)
    ev_b = spark.sparkContext.broadcast(ev_set)
    id_type = train.schema[id_col].dataType.simpleString()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ev = ev_b.value
        for pdf in batches:
            ids: list = []
            hits: list[int] = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = t.split() if isinstance(t, str) else []
                if len(toks) < n:
                    continue
                seen: set[str] = set()
                for j in range(len(toks) - n + 1):
                    g = " ".join(toks[j : j + n])
                    if g in ev:
                        seen.add(g)
                if seen:
                    ids.append(i)
                    hits.append(len(seen))
            yield pd.DataFrame(
                {
                    "id": pd.array(ids, dtype="int64") if id_type == "bigint" else ids,
                    "n_hit_ngrams": pd.array(hits, dtype="int64"),
                }
            )

    return (
        _arrow_fence(train.select(id_col, text_col))
        .mapInPandas(gen, f"id {id_type}, n_hit_ngrams bigint")
        # hit-docs-only agg: keeps the historical duplicate-id semantics
        # (counts sum per id) at the cost of one duplicate-sized shuffle
        .groupBy("id")
        .agg(F.sum("n_hit_ngrams").alias("n_hit_ngrams"))
        .withColumnRenamed("id", id_col)
    )


def shared_ngram_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 16,
    max_df: int = 100,
) -> DataFrame:
    """Duplicate-candidate edges (doc_a, doc_b), doc_a < doc_b, for document
    pairs sharing at least one word ``n``-gram with corpus document
    frequency ≤ ``max_df``.

    Exact-substring-overlap analogue of the MinHash candidate generator: long
    shared n-grams (n≈16) are near-certain copies. The df cap drops
    boilerplate n-grams whose buckets would otherwise fan out quadratically
    — standard practice in suffix-array dedup; raising it only ADDS edges.

    The Arrow n-gram pass is materialized once (``plan_checkpoint``); the
    frame feeds the df-count aggregation and both sides of the self-join,
    and exchange reuse does not dedupe Python-kernel subtrees.
    """
    ng = word_ngram_rows(df, text_col, id_col, n).transform(plan_checkpoint)
    # Rows are distinct within a document, so count(*) per ngram == doc freq.
    rare = (
        ng.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("df_"))
        .where(F.col("df_") <= max_df)
        .select("ngram")
    )
    pruned = ng.join(rare, "ngram")
    a = pruned.select("ngram", F.col("id").alias("doc_a"))
    b = pruned.select("ngram", F.col("id").alias("doc_b"))
    return (
        a.join(b, "ngram")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_rep) for every vertex in ``edges``: cluster_rep is the
    minimum vertex id reachable from the vertex — i.e. the canonical
    representative of its connected component.

    Min-label propagation: every vertex starts labeled with itself; each
    round takes the min of its own label and its neighbors', until a round
    changes nothing. Labels only decrease, so the label SUM is a strictly
    decreasing convergence witness — one cheap agg per round instead of a
    change-count join. Rounds needed = component diameter (tiny for dedup
    graphs); :func:`connected_components_star` is the diameter-independent
    alternative for adversarial graphs.
    """
    # Materialize the edge pipeline ONCE before symmetrizing: the union
    # references `edges` twice, and without this the entire upstream pair
    # pipeline (LSH buckets, re-checks, ...) is planned — and executed —
    # once per branch inside the sym checkpoint (guide §3.3: materialise
    # an intermediate to truncate a duplicated plan).
    e = edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("d")).transform(
        plan_checkpoint
    )
    sym = (
        e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .transform(plan_checkpoint)  # reused every round
    )
    # Seed each vertex with min(id, neighbors) — exactly the state after
    # the first propagation round, for the same one-exchange cost as the
    # plain distinct-vertex init (the groupBy shuffles either way), so
    # diameter-1 components (the common dedup pair) converge one join
    # round earlier. The fixpoint is unchanged: min-label propagation
    # reaches the same labels from any head start along its own orbit.
    # Each round's label frame is a LAZY checkpoint materialized by its own
    # convergence-sum action — one job per round (materialize + sum in the
    # same pass) instead of the former two (eager checkpoint, then sum).
    lab = sym.groupBy(F.col("s").alias("id")).agg(
        F.least(F.min("d"), F.first("s")).alias("lab")
    ).transform(plan_checkpoint)
    prev_sum = None
    have_prev = False
    for _ in range(max_iter):
        nbr = sym.join(lab, sym["d"] == lab["id"]).select(
            sym["s"].alias("id"), F.col("lab")
        )
        new_lab = (
            lab.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"))
            .transform(plan_checkpoint)  # truncate lineage across rounds
        )
        if not have_prev:
            # ONE job computes BOTH convergence sums (r14, guide §1.2): the
            # seed labels are a lazy checkpoint, so they materialize inside
            # this same action while the round-1 branch derives from them —
            # previously the seed sum was its own job, paying a full extra
            # job launch per CC call. Diameter-1 graphs (the dedup-pair
            # common case) now finish label propagation in ONE job.
            sums = {
                r["_r"]: r["_s"]
                for r in lab.select(F.lit(0).alias("_r"), "lab")
                .unionByName(new_lab.select(F.lit(1).alias("_r"), "lab"))
                .groupBy("_r")
                .agg(F.sum("lab").alias("_s"))
                .collect()
            }
            prev_sum, cur_sum = sums.get(0), sums.get(1)
            have_prev = True
        else:
            cur_sum = new_lab.agg(F.sum("lab")).first()[0]
        lab = new_lab
        if cur_sum == prev_sum:
            return lab.select(F.col("id"), F.col("lab").alias("cluster_rep"))
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds — "
        "component diameter exceeds max_iter; raise it or use a "
        "large-star/small-star variant for adversarial graphs"
    )


def duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 16,
    max_df: int = 100,
) -> DataFrame:
    """(doc_id, cluster_rep) for documents in shared-``n``-gram duplicate
    clusters: shared_ngram_edges → connected_components. Keeping
    ``cluster_rep == doc_id`` rows (or anti-joining the rest) dedups the
    corpus one-representative-per-cluster."""
    edges = shared_ngram_edges(df, text_col, id_col, n=n, max_df=max_df)
    cc = connected_components(edges)
    return cc.select(F.col("id").alias(id_col), "cluster_rep")


def corpus_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_pairs: DataFrame | None = None,
    eval_df: DataFrame | None = None,
    decon_n: int = 8,
    decon_min_hits: int = 1,
) -> DataFrame:
    """End-to-end keep/drop decision per document — the composed curation
    pipeline a pretraining corpus actually runs, one row per input doc:

      quality_keep   C4/Gopher heuristics (llm.text.quality_score >= 2)
      lang_keep      predicted language agrees with the tagged one (the
                     input must carry a ``lang`` column)
      is_canonical   minimum-id representative of its exact-dup group
      near_keep      (when ``near_pairs`` is given — any (id_a, id_b)
                     pair frame with id_a < id_b: MinHash/SimHash/dHash
                     output all qualify) — not a greedy near-dup loser,
                     i.e. never appears as id_b
      decon_keep     (when ``eval_df`` is given) — shares fewer than
                     ``decon_min_hits`` distinct ``decon_n``-grams with
                     the eval suite (broadcast join, corpus never
                     shuffles for this stage)
      keep           conjunction of every stage present

    Plan: quality and language are pure map-side codegen'd expressions;
    exact-dup election is one 16-byte fingerprint window; the optional
    stages add one id-keyed left join each (losers / hit ids — both
    duplicate-sized, far smaller than the corpus). Flags are emitted per
    stage so downstream loss accounting can attribute every drop.
    """
    from hdp2_5_hive2_spark.llm import text as text_ops

    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    staged = (
        text_ops.lang_id(text_ops.quality_score(df, text_col), text_col)
        .withColumn("fp", F.md5(normalized))
    )
    min_id = F.min(id_col).over(Window.partitionBy("fp"))
    out = staged.select(
        id_col,
        F.col("quality_score"),
        F.col("lang_pred"),
        (F.col("quality_score") >= 2).alias("quality_keep"),
        (F.col("lang_pred") == F.col("lang")).alias("lang_keep"),
        (F.col(id_col) == min_id).alias("is_canonical"),
    )
    keep = F.col("quality_keep") & F.col("lang_keep") & F.col("is_canonical")
    if near_pairs is not None:
        losers = (
            near_pairs.select(F.col("id_b").alias(id_col))
            .distinct()
            .withColumn("_near_loser", F.lit(True))
        )
        out = out.join(losers, id_col, "left").withColumn(
            "near_keep", F.col("_near_loser").isNull()
        ).drop("_near_loser")
        keep = keep & F.col("near_keep")
    if eval_df is not None:
        hits = (
            decontaminate(df, eval_df, text_col, id_col, n=decon_n)
            .filter(F.col("n_hit_ngrams") >= decon_min_hits)
            .select(id_col)
            .withColumn("_contaminated", F.lit(True))
        )
        out = out.join(hits, id_col, "left").withColumn(
            "decon_keep", F.col("_contaminated").isNull()
        ).drop("_contaminated")
        keep = keep & F.col("decon_keep")
    return out.withColumn("keep", keep)


def stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str | Column],
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic top-``k`` rows per stratum, ordered by
    md5(id) — a reproducible uniform-ish draw (unlike ``df.sample``, stable
    across partitionings, runs, and engines). One shuffle on the strata key;
    the rank filter compiles to WindowGroupLimit so partitions keep k-row
    heaps rather than sorting whole strata."""
    order = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(order.asc(), F.col(id_col).asc())
    return df.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") <= k).drop("_rk")


def uniform_draw(id_col: str = "doc_id") -> Column:
    """u(id) = (first 8 md5 hex digits of the id) / 2^32 — a deterministic
    uniform-ish [0,1) draw, stable across runs, partitionings and engines."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("bigint")
        / F.lit(4294967296.0)
    )


def weighted_sample(
    df: DataFrame,
    rate_col: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-row weighted (Bernoulli) sampling: keep a row iff
    ``uniform_draw(id) < rate`` (``df.sample`` is neither deterministic nor
    partitioning-stable). ``rate_col`` is any Column in [0,1] — typically the
    per-source rate from ``llm_mixture_rates`` or a quality-derived weight —
    so this is the executing half of a mixture builder: rates say HOW MUCH
    to keep, this decides WHICH rows.

    The OUTPUT SCHEMA IS THE INPUT SCHEMA — the draw exists only inside the
    filter, so sampled and unsampled frames union cleanly and no caller
    column can be clobbered. Map-side only: one md5 + one compare per row,
    zero shuffle, and the filter sits directly on the scan so column
    pruning/pushdown survive.
    """
    return df.filter(uniform_draw(id_col) < rate_col)


def cross_corpus_exact_dedup(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-match cross-corpus decontamination: drop every training document
    whose normalized text (lowercase, whitespace-collapsed) appears verbatim
    in the evaluation corpus — the cheap first line before the n-gram overlap
    protocol (``decontaminate``). Returns the surviving training rows.

    Plan: both sides reduce to 16-byte md5 fingerprints; the eval fingerprint
    set is distinct'd and BROADCAST (eval suites are small by construction),
    so the training corpus anti-joins map-side — zero shuffle of train text.
    """
    from hdp2_5_hive2_spark.llm.text import normalize_text

    fp = F.md5(normalize_text(text_col))
    ev = eval_df.select(fp.alias("fp")).distinct()
    return (
        train.withColumn("fp", fp)
        .join(F.broadcast(ev), "fp", "left_anti")
        .drop("fp")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    cap: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group document cap — the per-domain/per-host cap of crawl
    curation (no single domain may dominate the corpus): keep at most
    ``cap`` rows per group, chosen by a DETERMINISTIC hash order
    (md5 of the id, ties on the id), not arrival order — stable across
    runs, partitionings and engines, the same leakage-safe discipline as
    the hash-based split assignment.

    Output: the input rows that survive the cap, plus their ``_cap_rank``.

    100 TB: one hash-partitioned window per group (no global sort); groups
    are domains, so cardinality is high and skew is bounded by the cap
    itself — the window's per-partition state is O(1). A hot domain with
    billions of rows still ranks in one pass; if a single domain exceeds a
    task's input split, pre-aggregate with a salted top-``cap`` per salt
    then re-rank the ≤ cap·n_salts survivors."""
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_cap_rank", F.row_number().over(w))
        .filter(F.col("_cap_rank") <= cap)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff — the data-versioning audit between two corpus
    releases: classify every document id as ``added`` (new only),
    ``removed`` (old only), ``changed`` (both, different content) or
    ``unchanged`` (both, identical content). Content identity is md5 of
    the text, computed MAP-SIDE before the join, so the full-outer join
    shuffles (id, 32-hex) rows — document text itself never crosses the
    exchange, the same discipline as exact_dedup.

    Output: (id_col, status).

    100 TB: one full-outer shuffle join keyed on the id; both hash passes
    are map-side codegen. For repeated diffing at scale, persist the
    (id, md5) manifest of each release and diff manifests instead."""
    o = old.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(text_col)).alias("_oh"),
        F.lit(1).alias("_op"),
    )
    n = new.select(
        F.col(id_col).alias("_id"),
        F.md5(F.col(text_col)).alias("_nh"),
        F.lit(1).alias("_np"),
    )
    joined = o.join(n, "_id", "full_outer")
    # presence flags, not hash nullity: a NULL text hashes to NULL but the
    # row still EXISTS in its snapshot — null-safe equality then classifies
    # NULL→NULL text as unchanged instead of misreporting added/removed
    status = (
        F.when(F.col("_op").isNull(), "added")
        .when(F.col("_np").isNull(), "removed")
        .when(F.col("_oh").eqNullSafe(F.col("_nh")), "unchanged")
        .otherwise("changed")
    )
    return joined.select(F.col("_id").alias(id_col), status.alias("status"))


def contrastive_pairs(
    df: DataFrame,
    positive_pairs: DataFrame,
    n_buckets: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Contrastive training-pair mining for embedding/retrieval models:
    each POSITIVE pair (a near-duplicate pair from any dedup kernel)
    is completed with a deterministic hard-ish NEGATIVE — a document drawn
    from a hash-assigned bucket, excluding the anchor itself and anything
    the positive-pair set marks as a near-dup of the anchor.

    The negative choice is pure hash arithmetic (anchor's target bucket =
    md5(anchor||':neg') mod n_buckets; within the bucket, min
    (md5(anchor:candidate), candidate)) — reproducible across runs,
    engines and partitionings, like every sampling op in this package.

    Output: (anchor_id, pos_id, neg_id) — one row per positive pair whose
    negative bucket is non-empty after exclusions.

    100 TB: the corpus is bucketed map-side; the join fans each anchor out
    to ONE bucket (n/n_buckets docs — scale n_buckets with the corpus to
    bound it); dup exclusion is a left-anti against the pair set; the
    per-anchor argmin is a window over the bounded candidate set. The
    positive-pair set is dedup output — already sub-quadratic."""
    b_doc = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % n_buckets
    )
    docs = df.select(F.col(id_col).alias("cand_id"), b_doc.alias("bucket"))
    anchors = positive_pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("pos_id")
    )
    target = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("anchor_id").cast("string"), F.lit(":neg"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % n_buckets
    )
    cand = (
        anchors.withColumn("bucket", target)
        .join(docs, "bucket")
        .filter(F.col("cand_id") != F.col("anchor_id"))
    )
    # exclude known near-dups of the anchor (both orientations)
    dup_edges = positive_pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("cand_id")
    ).unionAll(
        positive_pairs.select(
            F.col("id_b").alias("anchor_id"), F.col("id_a").alias("cand_id")
        )
    )
    cand = cand.join(dup_edges, ["anchor_id", "cand_id"], "left_anti")
    pick = F.md5(
        F.concat(
            F.col("anchor_id").cast("string"), F.lit(":"), F.col("cand_id").cast("string")
        )
    )
    w = Window.partitionBy("anchor_id", "pos_id").orderBy(pick, F.col("cand_id"))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("anchor_id", "pos_id", F.col("cand_id").alias("neg_id"))
    )


def connected_components_star(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, cluster_rep) via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the ADVERSARIAL-GRAPH alternative to :func:`connected_components`:
    min-label propagation needs O(component diameter) rounds, which a
    pathological chain/cycle graph can stretch to thousands, while the
    star operators contract every component to a star in O(log²)
    (O(log) in practice) rounds regardless of diameter. Same output
    contract as connected_components; dedup graphs (tiny diameter) should
    keep using label propagation — fewer rounds, simpler plans.

    large-star: each node connects its STRICTLY LARGER neighbors to the
    minimum of its closed neighborhood; small-star: each node connects its
    ≤ neighbors (and itself) to that minimum. Both preserve connectivity;
    alternating them reaches a fixed point where every component is a star
    rooted at its minimum id.

    Per round: two grouped mins + two projections, all on (node, node)
    pairs — no text, no payload. Convergence here is an exact edge-set
    comparison (two anti-joins); at corpus scale swap it for a monotone
    checksum witness (Σ endpoints strictly decreases) the way
    connected_components uses its label sum."""
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # lazy: the take(1) probe (and the first round's scans) materialize
        # it — one job instead of an eager-checkpoint job plus the probe.
        # DETERMINISM PRECONDITION (ADVICE r13): take(1) computes only the
        # partitions it scans; the rest materialize later under other jobs.
        # Safe because this subtree (hash/agg/join over deterministic
        # inputs) is set-deterministic — do NOT feed sample()/rand()/
        # first-order-dependent aggs through a lazily probed checkpoint.
        .transform(plan_checkpoint)
    )
    if not e.take(1):
        return e.select(F.col("a").alias("id"), F.col("b").alias("cluster_rep"))

    def closed_min(sym: DataFrame) -> DataFrame:
        return (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
        )

    for _ in range(max_iter):
        # large-star: (v, m(u)) for every neighbor v > u
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = closed_min(sym)
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the large-star output: (v, m(u)) for v <= u, plus
        # (u, m(u))
        sym2 = ls.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            ls.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        small = sym2.filter(F.col("v") <= F.col("u"))
        mins2 = (
            small.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("u"), F.col("_mv")).alias("m"))
        )
        ss = (
            small.join(mins2, "u")
            .select(F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b"))
            .union(mins2.select(F.col("m").alias("a"), F.col("u").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            # lazy: the convergence anti-joins materialize it in-pass
            .transform(plan_checkpoint)
        )
        changed = (
            ss.exceptAll(e).take(1) or e.exceptAll(ss).take(1)
        )
        e = ss
        if not changed:
            labels = e.select(F.col("b").alias("id"), F.col("a").alias("rep")).union(
                e.select(F.col("a").alias("id"), F.col("a").alias("rep"))
            )
            return (
                labels.groupBy("id")
                .agg(F.min("rep").alias("cluster_rep"))
            )
    raise RuntimeError(
        f"connected_components_star did not converge in {max_iter} rounds"
    )


def balanced_shards(
    df: DataFrame,
    n_shards: int,
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    id_block: int = 1 << 20,
) -> DataFrame:
    """Deterministic balanced shard assignment for training-data layout:
    rank every row globally by ``(weight desc, id asc)`` and deal ranks
    round-robin over ``n_shards`` — the longest-processing-time heuristic
    that keeps per-shard token totals within one max-document of each
    other, so no trainer shard becomes the epoch straggler.

    Output: (id_col, weight_col, rank, shard) with rank 1-based and
    ``shard = (rank - 1) % n_shards``.

    Plan / 100 TB notes: a bare ``row_number() OVER (ORDER BY ...)`` drags
    the corpus into ONE partition (Spark's "No Partition Defined" cliff) —
    instead the global rank is the two-phase distributed form (same
    composition as ``text.pack_sequences``): rows bucket by
    ``(weight, floor(id / id_block))``, whose lexicographic
    (weight desc, block asc) order is a PREFIX of the global order, so a
    per-bucket parallel window rank plus broadcast bucket base offsets
    (cumsum over the bucket-count table — bucket-cardinality-sized, tiny)
    compose into the exact global rank. The ``id_block`` sub-bucketing
    bounds window-partition size even when one weight value dominates the
    corpus (every boilerplate-length document): a hot weight splits into
    id-range blocks that still concatenate in order. Integer weights
    assumed (token counts, byte sizes); range-bucket continuous weights
    first."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    if id_block <= 0:
        raise ValueError("id_block must be positive")
    base = df.select(
        F.col(id_col),
        F.col(weight_col),
        F.floor(F.col(id_col) / id_block).alias("_blk"),
    )
    in_bucket = Window.partitionBy(weight_col, "_blk").orderBy(F.col(id_col).asc())
    bucket_order = Window.orderBy(
        F.col(weight_col).desc(), F.col("_blk").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        base.groupBy(weight_col, "_blk")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_base", F.coalesce(F.sum("_n").over(bucket_order), F.lit(0)))
        .select(weight_col, "_blk", "_base")
    )
    return (
        base.withColumn("_rn", F.row_number().over(in_bucket))
        .join(F.broadcast(bases), [weight_col, "_blk"])
        .select(
            id_col,
            weight_col,
            (F.col("_base") + F.col("_rn")).cast("bigint").alias("rank"),
            ((F.col("_base") + F.col("_rn") - 1) % n_shards)
            .cast("int")
            .alias("shard"),
        )
    )


def temperature_epoch_plan(
    df: DataFrame,
    budget_multiple: int = 4,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Epoch/repeat-factor planning for a temperature-flattened mixture
    (the audit run before launching training: which sources must repeat,
    and how often, to fill the token budget). Budget B = budget_multiple ×
    total corpus tokens; each source draws p_s = sqrt(n_s) / Σ sqrt(n_s)
    of it (the T=0.5 mT5/XLM-R sampling rule), so its data repeats for
    epochs_needed = B·p_s / n_s epochs — > budget_multiple means the
    flattening up-samples the source beyond uniform replay.

    Output: (source, n_docs, n_tokens, p_mix, epochs_needed, over_uniform).

    Exactness discipline: the mixture normalizer is an order-DEPENDENT
    float sum, so it folds over the per-source sqrt values in SORTED order
    — a fixed sequence of single IEEE adds that both engines reproduce
    bitwise (Catalyst ``aggregate`` over ``sort_array`` here; sorted-list
    fold in SQL). Every other double is one correctly-rounded op on exact
    integers. The source table is mixture-sized (not corpus-sized), so the
    interpreted HOF fold is irrelevant to scale: the corpus itself is
    touched once, map-side, for token counts."""
    if budget_multiple <= 0:
        raise ValueError("budget_multiple must be positive")
    from hdp2_5_hive2_spark.llm.text import token_count

    w = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(text_col)).alias("n_tokens"),
    )
    t = w.agg(
        F.sum("n_tokens").alias("_total"),
        F.aggregate(
            F.sort_array(F.collect_list(F.sqrt(F.col("n_tokens").cast("double")))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_norm"),
    )
    p = F.sqrt(F.col("n_tokens").cast("double")) / F.col("_norm")
    budget = (F.lit(budget_multiple) * F.col("_total")).cast("double")
    epochs = budget * p / F.col("n_tokens").cast("double")
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            p.alias("p_mix"),
            epochs.alias("epochs_needed"),
            (epochs > F.lit(float(budget_multiple))).alias("over_uniform"),
        )
    )


def decontaminate_bloom(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 22,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter decontamination — the constant-memory variant of
    :func:`decontaminate` for when the eval suite's n-gram set is too
    large to broadcast as strings: the eval n-grams compress into an
    ``m_bits`` bitmap (m/8 bytes broadcast per executor, size independent
    of |eval|), and every train document probes its distinct word
    ``n``-grams against it. Output: (id_col, n_ngrams, n_flagged,
    contaminated) — n_flagged counts Bloom-POSITIVE n-grams, which
    includes the filter's false positives; with k=3 hash functions and
    m=4M bits the FP rate is (1-e^(-kN/m))^k, and because the hash
    positions are deterministic (md5-derived, the repo's cross-engine
    idiom) the same false positives occur on any engine — the operator is
    exactly reproducible, just intentionally one-sided.

    Plan / 100 TB notes: the eval side reduces to <= k·|eval n-grams|
    bit positions JVM-side (conv(md5)), then each partition folds its
    positions into a local m/8-byte bitmap executor-side (one Arrow pass,
    ``np.bitwise_or.at``) and ships ONE bitmap row; the driver ORs the
    <= numPartitions bitmaps, so driver memory is m/8 bytes times the
    partition count of the (distinct-shuffled) eval n-gram set — never
    proportional to |eval n-grams| (VERDICT r8 #1: the previous position
    collect materialized k·|eval| Row objects driver-side, exactly the
    blow-up the bitmap exists to avoid). The train side is the same Arrow
    n-gram pass decontaminate uses, with THE SAME codegen md5 position
    columns projected JVM-side before the probe kernel — the corpus-sized
    hashing stays in whole-stage codegen (VERDICT r9 #1: the previous
    probe re-derived the positions via per-row ``hashlib.md5`` in Python,
    10-100x the CPU of the codegen form at corpus scale) — and the kernel
    itself is one vectorized numpy bitmap gather per Arrow batch
    (``bm[p >> 3] >> (p & 7) & 1`` AND-ed across the k probes). No join,
    no shuffle of n-grams; only the per-doc (id, counts) rows aggregate."""
    if n < 1 or k < 1 or m_bits < 8:
        raise ValueError("need n >= 1, k >= 1, m_bits >= 8")
    import numpy as np
    import pandas as pd

    # One position-column derivation for BOTH sides: the Bloom index j's
    # bit position is conv(md5(ngram || '#j')[:8], 16, 10) % m_bits,
    # evaluated in whole-stage codegen. The eval fold and the train probe
    # must agree bit-for-bit; sharing the expression makes that structural.
    pos_cols = [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("ngram"), F.lit(f"#{j}"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % m_bits
        ).alias(f"p{j}")
        for j in range(k)
    ]
    nbytes = m_bits // 8 + 1

    ev = word_ngram_rows(eval_df, text_col, id_col, n).select("ngram").distinct()

    def fold_bitmap(batches):
        bm = np.zeros(nbytes, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            for j in range(k):
                p = pdf[f"p{j}"].to_numpy(dtype=np.int64)
                np.bitwise_or.at(
                    bm, p >> 3, (np.uint8(1) << (p & 7).astype(np.uint8))
                )
        # Empty partitions ship nothing — an all-zero bitmap ORs to a no-op
        # but would still move m/8 bytes.
        if seen:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = ev.select(*pos_cols).mapInPandas(fold_bitmap, "bm binary").collect()
    bitmap = np.zeros(nbytes, dtype=np.uint8)
    for r in parts:
        bitmap |= np.frombuffer(r["bm"], dtype=np.uint8)
    spark = train_df.sparkSession
    bc = spark.sparkContext.broadcast(bitmap.tobytes())

    # Train side: project the SAME codegen position columns, so the
    # corpus-sized md5 work happens JVM-side; the Python kernel only
    # gathers bits from the broadcast bitmap — no hashing, no loops.
    grams = word_ngram_rows(train_df, text_col, id_col, n).select(
        "id", *pos_cols
    )

    def probe(batches):
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            hit = np.ones(len(pdf), dtype=bool)
            for j in range(k):
                p = pdf[f"p{j}"].to_numpy(dtype=np.int64)
                hit &= ((bm[p >> 3] >> (p & 7).astype(np.uint8)) & 1).astype(
                    bool
                )
            yield pd.DataFrame({"id": pdf["id"], "flag": hit})

    probed = grams.mapInPandas(probe, "id bigint, flag boolean")
    return (
        probed.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.when(F.col("flag"), 1).otherwise(0)).alias("n_flagged"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_ngrams",
            "n_flagged",
            (F.col("n_flagged") > 0).alias("contaminated"),
        )
    )


def realize_mixture(
    df: DataFrame,
    budget_multiple: int = 4,
    text_col: str = "text",
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the :func:`temperature_epoch_plan`: every document gets
    a deterministic integer copy count realizing its source's fractional
    epoch requirement — floor(epochs) copies for everyone, plus one more
    when the document's md5-uniform draw falls below the fractional part
    (stochastic rounding that is exactly reproducible, the same md5-draw
    device as weighted_sample). Aggregated per source, the realized token
    counts land within one document of epochs × n_tokens.

    Output: (source, n_docs, realized_docs, realized_tokens,
    epochs_needed).

    Determinism: epochs_needed is the epoch plan's bit-stable double
    (sorted-fold normalizer); its floor and fractional part are single
    IEEE ops; the draw is md5(id)[:8 hex] / 2^32 — an exact power-of-two
    division — compared against the fraction. Identical decisions on any
    engine. Plan: the per-source plan broadcasts (mixture-sized); one
    map-side pass computes copies; one per-source aggregate."""
    from hdp2_5_hive2_spark.llm.text import token_count

    plan = temperature_epoch_plan(
        df, budget_multiple=budget_multiple, text_col=text_col, source_col=source_col
    ).select(source_col, "epochs_needed")
    draw = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint") / F.lit(4294967296.0)
    frac = F.col("epochs_needed") - F.floor("epochs_needed")
    copies = (
        F.floor("epochs_needed")
        + F.when(draw < frac, F.lit(1)).otherwise(F.lit(0))
    ).cast("bigint")
    return (
        df.select(id_col, source_col, token_count(text_col).alias("_nt"))
        .join(F.broadcast(plan), source_col)
        .select(source_col, "_nt", copies.alias("_c"), F.col("epochs_needed"))
        .groupBy(source_col, "epochs_needed")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_c").alias("realized_docs"),
            F.sum(F.col("_c") * F.col("_nt")).alias("realized_tokens"),
        )
        .select(
            source_col,
            "n_docs",
            "realized_docs",
            "realized_tokens",
            "epochs_needed",
        )
    )


def pagerank_int(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    iters: int = 3,
    q_bits: int = 30,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list in PURE INTEGER
    arithmetic — the centrality score that picks a duplicate cluster's
    canonical representative (most-connected member) better than min-id.

    Determinism: damping is the exact rational 17/20 and ranks live on a
    2^q_bits integer scale, so every update is

        rq'(v) = (3·S) // (20·N)  +  (17 · Σ_{u~v} rq(u) // deg(u)) // 20

    with S = 2^q_bits — integer division and integer sums ONLY, no float op
    anywhere, hence bit-identical results on any engine (unlike classic
    float PageRank whose partition-ordered sums never hash-match).

    Plan: the symmetric edge list with degrees is materialized once
    (localCheckpoint) and reused every round; each iteration is one join
    (rank onto edge source) + one groupBy(dst) shuffle — the standard
    distributed PageRank shape, O(iters) rounds with lineage truncated per
    round. N is read once up front (driver scalar, same as
    connected_components' convergence probe). At 100 TB both per-round
    shuffles key on vertex ids; skew concentrates on high-degree hubs,
    which AQE splits.

    Output: (id, rank_q) — rank on the 2^q_bits scale; Σ rank_q ≈ S up to
    per-node floor losses."""
    s_scale = 1 << q_bits
    sym = (
        edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
        .union(edges.select(F.col(b_col).alias("s"), F.col(a_col).alias("d")))
        .transform(plan_checkpoint)
    )
    deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    e2 = sym.join(deg, "s").transform(plan_checkpoint)
    nodes = deg.select(F.col("s").alias("id")).transform(plan_checkpoint)
    n_nodes = nodes.count()  # materializes the lazy checkpoint in the same job
    if n_nodes == 0:
        return nodes.select("id", F.lit(0).cast("bigint").alias("rank_q"))
    ranks = nodes.select("id", F.lit(s_scale // n_nodes).cast("bigint").alias("rq"))
    base = (3 * s_scale) // (20 * n_nodes)
    for _ in range(iters):
        sums = (
            e2.join(ranks, e2["s"] == ranks["id"])
            .select(F.col("d"), F.expr("rq div deg").alias("contrib"))
            .groupBy("d")
            .agg(F.sum("contrib").alias("sin"))
        )
        ranks = (
            nodes.join(sums, nodes["id"] == sums["d"], "left")
            .select(
                "id",
                (
                    F.lit(base).cast("bigint")
                    + F.expr("(17 * coalesce(sin, CAST(0 AS BIGINT))) div 20")
                ).alias("rq"),
            )
            # lazy: rounds have no convergence probe, so the caller's one
            # action computes the whole chain — each round's RDD persists
            # as it is reached (lineage still truncated per round), without
            # an eager job per iteration
            .transform(plan_checkpoint)
        )
    return ranks.select("id", F.col("rq").alias("rank_q"))


def graph_stats(
    edges: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """One-row structural summary of an undirected simple graph (the health
    check run on a dedup candidate graph before trusting its clusters):
    (n_nodes, n_edges, max_degree, n_triangles, n_wedges, clustering) with
    global clustering = 3·triangles / wedges.

    Exactness: everything is integer counting — wedges Σ deg·(deg−1)/2 is
    exact (consecutive integers, the product is even) and the single
    closing division is one IEEE op.

    Plan: triangles count via the two-join ordered enumeration
    (a<b, b<c, a<c — each triangle counted exactly once); both joins key
    on a vertex id. Cost is Σ deg² in the worst case, which is exactly why
    the dedup edge builders cap per-ngram fan-out — on those bounded
    graphs this is cheap at any corpus size; for power-law webgraphs use
    degree-ordered orientation (edges point low→high degree) first."""
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).where(
        F.col("a") < F.col("b")
    )
    e = e.transform(plan_checkpoint)
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            e.alias("e3"),
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.max("deg").alias("max_degree"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / F.lit(2))
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        summary.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "max_degree",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                (F.lit(3.0) * F.col("n_triangles").cast("double"))
                / F.col("n_wedges").cast("double"),
            ).alias("clustering"),
        )
    )


def pareto_front(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """2-D Pareto front (the SKYLINE operator, Börzsönyi et al. 2001) for
    two MAXIMIZED integer criteria: rows not strictly dominated by any
    other row (dominated ⟺ some row is ≥ on both axes and > on one).
    Duplicate coordinate pairs on the front are all kept.

    Spark-first shape — never the O(n²) nested loop: collapse to distinct
    x values with their max y (one groupBy), take the running max of y
    over strictly greater x (a window over the BOUNDED distinct-x frame,
    same discipline as vocab_coverage), and keep rows whose y equals their
    x's max AND strictly exceeds every higher-x max. The corpus is touched
    by exactly one aggregation and one semi-join back."""
    from pyspark.sql import Window as _W

    x, y = F.col(x_col), F.col(y_col)
    mt = df.groupBy(x.alias("_x")).agg(F.max(y).alias("_mt"))
    w = _W.orderBy(F.desc("_x")).rowsBetween(_W.unboundedPreceding, -1)
    front_xy = (
        mt.withColumn("_m_strict", F.max("_mt").over(w))
        .where(
            F.col("_m_strict").isNull() | (F.col("_mt") > F.col("_m_strict"))
        )
        .select("_x", F.col("_mt").alias("_y"))
    )
    return df.join(
        F.broadcast(front_xy),
        (x == F.col("_x")) & (y == F.col("_y")),
    ).drop("_x", "_y")


def badwords_filter(
    df: DataFrame,
    terms: Sequence[str],
    text_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """C4-style blocklist-term gate (Raffel et al. 2020 §2.2 'bad words'
    filter): count word-boundary occurrences of any blocklisted term in
    the lowercased text and keep documents with at most ``max_hits``.
    Adds ``n_badwords`` (BIGINT, non-overlapping leftmost matches — the
    shared semantics of Java regex and RE2) and ``kept`` (boolean).

    Plan / 100 TB notes: the term list compiles into ONE alternation
    regex evaluated by `regexp_count` inside whole-stage codegen — a
    map-side scan with zero shuffles and no Python. The blocklist ships
    in the plan itself (a literal pattern), so unlike a broadcast join
    there is no build side at all; real blocklists (~2k terms) stay well
    under the JVM's 64 KB pattern limit. Terms are regex-escaped, so the
    list is data, not pattern syntax."""
    if not terms:
        raise ValueError("terms must be non-empty")
    import re as _re

    pat = r"\b(" + "|".join(sorted(_re.escape(t.lower()) for t in terms)) + r")\b"
    hits = F.regexp_count(F.lower(F.col(text_col)), F.lit(pat))
    return df.withColumn("n_badwords", hits.cast("bigint")).withColumn(
        "kept", F.col("n_badwords") <= max_hits
    )


def rank_calibrate(
    df: DataFrame,
    score_col: str = "score",
    group_col: str = "source",
    id_col: str = "doc_id",
    id_block: int = 1 << 20,
) -> DataFrame:
    """Quantile normalization of per-group scores onto the GLOBAL score
    distribution — the calibration step that makes per-source quality
    classifiers comparable before a corpus-wide threshold (each source's
    rank-r-of-n document is assigned the global score at the same relative
    position). Output: (id_col, group_col, score_col, calibrated).

    Entirely rank-based and integer-exact: the target position is
    ``idx = 1 + (r-1)(N-1) div (n-1)`` (integer division on both engines;
    a singleton group maps to the global median position), and
    ``calibrated`` is a SELECTED global score value, never an interpolated
    quantile — so results are bit-identical on any engine.

    Plan / 100 TB notes: the global rank is the two-phase distributed form
    (per-(score, id-block) bucket window rank + broadcast cumsum of the
    bucket-count table), never a single-partition global window — same
    composition as ``balanced_shards``. The per-group rank is one window
    on the group key; the final idx->rank lookup is a shuffle join on a
    bigint. Integer scores assumed. Overflow note: (r-1)(N-1) needs
    n·N < 2^63; beyond ~3e9 rows per group pre-aggregate scores into
    coarser rank buckets first."""
    if id_block <= 0:
        raise ValueError("id_block must be positive")
    base = df.select(
        F.col(group_col),
        F.col(id_col),
        F.col(score_col).alias("_s"),
        F.floor(F.col(id_col) / id_block).alias("_blk"),
    )
    in_bucket = Window.partitionBy("_s", "_blk").orderBy(F.col(id_col).asc())
    bucket_order = Window.orderBy(
        F.col("_s").asc(), F.col("_blk").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    bases = (
        base.groupBy("_s", "_blk")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .withColumn("_base", F.coalesce(F.sum("_bn").over(bucket_order), F.lit(0)))
    )
    glob = (
        base.withColumn("_rn", F.row_number().over(in_bucket))
        .join(F.broadcast(bases.select("_s", "_blk", "_base")), ["_s", "_blk"])
        .select(
            (F.col("_base") + F.col("_rn")).cast("bigint").alias("_gr"),
            F.col("_s").alias("_gscore"),
        )
    )
    wg = Window.partitionBy(group_col).orderBy(F.col("_s").asc(), F.col(id_col).asc())
    wc = Window.partitionBy(group_col)
    ranked = base.select(
        group_col,
        id_col,
        "_s",
        F.row_number().over(wg).alias("_rr"),
        F.count(F.lit(1)).over(wc).alias("_n"),
    ).crossJoin(F.broadcast(bases.agg(F.sum("_bn").alias("_tot"))))
    idx = (
        F.when(
            F.col("_n") > 1,
            1 + F.expr("(_rr - 1) * (_tot - 1) div (_n - 1)"),
        )
        .otherwise(F.expr("(_tot + 1) div 2"))
        .cast("bigint")
    )
    return (
        ranked.withColumn("_idx", idx)
        .join(glob, F.col("_idx") == F.col("_gr"))
        .select(
            id_col,
            group_col,
            F.col("_s").alias(score_col),
            F.col("_gscore").alias("calibrated"),
        )
    )
