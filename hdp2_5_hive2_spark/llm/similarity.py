"""Embedding similarity search: brute-force cosine top-k + LSH-bucketed ANN.

Operators over an `array<float>` embedding column (driver table
`embeddings(vec_id, embedding float[64], label)`).

Scale design:
  - brute-force: the query set is broadcast (it's small by definition);
    scoring is a map-side zip_with/aggregate over every corpus partition —
    embarrassingly parallel, no shuffle except the final per-query top-k
    (TakeOrderedAndProject after a window rank). This is the exact baseline.
  - random-hyperplane LSH: each vector gets a b-bit signature (sign of dot
    with b fixed pseudo-random hyperplanes, generated deterministically from
    a seed — no stored model). Candidates = same bucket in any of `tables`
    independent signatures; exact cosine re-rank on candidates only. At
    100 TB the corpus is hashed in one map pass and the only shuffle is the
    bucket join, whose keys are uniform by construction.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from hdp2_5_hive2_spark.llm.text import _arrow_fence, plan_checkpoint


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two double-array columns (JVM fold, no UDF)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double_array(c: Column | str) -> Column:
    """The array column cast element-wise to array<double>: one codegen
    Cast, with no higher-order lambda."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast("array<double>")


_QUERY_HINT = (
    "the exact paths collect+broadcast every query vector. "
    "Use lsh_topk or ivf_topk for large query sets."
)


def _check_bound(rows: list, max_rows: int, caller: str, bound: str, hint: str) -> list:
    if len(rows) > max_rows:
        raise ValueError(f"{caller}: more than {bound}={max_rows} rows; {hint}")
    return rows


def bounded_collect(df: DataFrame, max_rows: int, caller: str, bound: str, hint: str) -> list:
    """Collect a broadcast-small block (query set, anchor set, centroid
    book) to the driver, raising ``ValueError`` instead of OOMing it when
    ``df`` holds more than ``max_rows`` rows. The message names ``caller``
    and its cap parameter ``bound``. The limit(max+1) collect keeps the
    guard a single job (no extra count)."""
    return _check_bound(df.limit(max_rows + 1).collect(), max_rows, caller, bound, hint)


def collect_query_block(
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 1_000_000,
    caller: str = "collect_query_block",
) -> list:
    """Collect the broadcast-small (qid, qv double[]) query block ONCE for
    reuse across several top-k kernels (guide §1.2/§5: one collect job per
    query set, not one per kernel). Pass the returned rows to
    :func:`brute_force_topk` / :func:`quantized_topk` /
    :func:`quantized_dot_topk` / :func:`rerank_topk` via ``q_rows=`` —
    kernels fed this way run ZERO query-side jobs of their own. Each kernel
    still enforces its own ``max_queries`` contract on the shared rows.

    The guard is :func:`bounded_collect`'s single job."""
    return bounded_collect(
        queries.select(F.col(id_col).alias("qid"), as_double_array(vec_col).alias("qv")),
        max_queries,
        caller,
        "max_queries",
        _QUERY_HINT,
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 1_000_000,
    q_rows: list | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, score), ties broken by neighbor id.

    Execution: the query block — broadcast-small by contract, like IVF's
    training sample — is collected to one numpy matrix; each corpus Arrow
    batch scores itself against ALL queries with a single BLAS matmul and
    emits only its per-query top-k, so the shuffle carries
    n_batches × Q × k rows instead of N × Q, and a final window rank merges
    the partials. This replaces the crossJoin + Catalyst higher-order-fold
    cosine (~30 µs/pair, interpreted — never codegen) that made the exact
    baseline the slowest plan in the suite.

    The broadcast-small contract is ENFORCED: more than ``max_queries`` query
    rows raises instead of silently OOMing the driver — point huge query sets
    at :func:`lsh_topk` / :func:`ivf_topk`, which keep both sides distributed.
    The limit(max+1) collect keeps the guard a single job (no extra count).

    The id columns keep the INPUT id column's type (integer, string, …);
    the output schema is derived from it, not hard-coded."""
    import numpy as np
    import pandas as pd

    q_id_type = queries.schema[id_col].dataType.simpleString()
    c_id_type = corpus.schema[id_col].dataType.simpleString()
    if q_rows is None:
        q_rows = collect_query_block(
            queries, id_col, vec_col, max_queries, caller="brute_force_topk"
        )
    # also holds a caller-shared q_rows block to this kernel's own bound
    _check_bound(q_rows, max_queries, "brute_force_topk", "max_queries", _QUERY_HINT)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv"))
    if not q_rows:
        return (
            c.limit(0)
            .select(
                F.col("neighbor_id").cast(q_id_type).alias("query_id"),
                "neighbor_id",
                F.lit(1).alias("rank"),
                F.lit(0.0).alias("score"),
            )
        )
    # no dtype forced: numeric ids stay numeric, string ids become numpy
    # unicode/object — both survive the Arrow bridge under the derived schema
    q_ids = np.asarray([r.qid for r in q_rows])
    qm = np.asarray([r.qv for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0] = 1.0
    qmn = qm / qn[:, None]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf["cv"]), dtype=np.float64)
            xn = np.linalg.norm(x, axis=1)
            xn[xn == 0] = 1.0
            s = (x / xn[:, None]) @ qmn.T  # (n, Q)
            nb = pdf["neighbor_id"].to_numpy()
            top = min(k, len(nb))
            # two stable argsorts == lexsort((nb, -s)) but also valid for
            # string/object id arrays, matching the final window order
            # (score desc, id asc)
            by_nb = np.argsort(nb, kind="stable")
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                idx = by_nb[np.argsort(-s[by_nb, j], kind="stable")][:top]
                out_q.append(np.full(top, q_ids[j]))
                out_n.append(nb[idx])
                out_s.append(s[idx, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "score": np.concatenate(out_s),
                }
            )

    scored = _arrow_fence(c).mapInPandas(
        gen, f"query_id {q_id_type}, neighbor_id {c_id_type}, score double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def quantized_dot_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
    q_rows: list | None = None,
) -> DataFrame:
    """Exact INTEGER-dot top-k neighbors per query over ``floor(v·scale)``
    quantized vectors — the bit-stable sibling of :func:`brute_force_topk`
    for consumers that need a cross-engine-exact ranking (evaluation
    harnesses: nDCG, recall curves). Returns (query_id, neighbor_id, rank,
    dot) with dot an int64; ties break by neighbor id.

    Exactness: floor(float64(v)·scale) then an int64 matmul — every engine
    computing the same floor-of-product gets identical codes, and integer
    dots compare exactly (no float ranking ties to adjudicate). Headroom:
    |dot| ≤ dim·scale²·max|v|², far inside int64 for unit-ish embeddings.

    Plan / 100 TB: same shape as brute_force_topk — queries broadcast
    (guarded by ``max_queries``), each corpus Arrow batch emits only its
    per-query top-k, final merge is a window PARTITIONED by query_id."""
    import numpy as np
    import pandas as pd

    q_id_type = queries.schema[id_col].dataType.simpleString()
    c_id_type = corpus.schema[id_col].dataType.simpleString()
    if q_rows is None:
        q_rows = collect_query_block(
            queries, id_col, vec_col, max_queries, caller="quantized_dot_topk"
        )
    # also holds a caller-shared q_rows block to this kernel's own bound
    _check_bound(q_rows, max_queries, "quantized_dot_topk", "max_queries", _QUERY_HINT)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv"))
    if not q_rows:
        return c.limit(0).select(
            F.col("neighbor_id").cast(q_id_type).alias("query_id"),
            "neighbor_id",
            F.lit(1).alias("rank"),
            F.lit(0).cast("bigint").alias("dot"),
        )
    q_ids = np.asarray([r.qid for r in q_rows])
    qm = np.floor(np.asarray([r.qv for r in q_rows], dtype=np.float64) * scale).astype(
        np.int64
    )

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.floor(
                np.asarray(list(pdf["cv"]), dtype=np.float64) * scale
            ).astype(np.int64)
            s = x @ qm.T  # (n, Q) int64
            nb = pdf["neighbor_id"].to_numpy()
            top = min(k, len(nb))
            by_nb = np.argsort(nb, kind="stable")
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                idx = by_nb[np.argsort(-s[by_nb, j], kind="stable")][:top]
                out_q.append(np.full(top, q_ids[j]))
                out_n.append(nb[idx])
                out_s.append(s[idx, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "dot": np.concatenate(out_s),
                }
            )

    scored = _arrow_fence(c).mapInPandas(
        gen, f"query_id {q_id_type}, neighbor_id {c_id_type}, dot bigint"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def quantized_cell_assign(
    df: DataFrame,
    centroids: DataFrame,
    scale: int = 1024,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_id_col: str = "vec_id",
    max_centroids: int = 4096,
) -> DataFrame:
    """(id, cell) — nearest-centroid assignment by EXACT integer dot over
    ``floor(v·scale)`` quantized vectors (cell = the centroid's own id;
    ties break toward the smallest centroid id). The deterministic, engine
    -exact IVF coarse quantizer: unlike :func:`ivf_topk`'s float k-means
    cells, any engine computing the same floors reproduces the same
    partition of the corpus, which is what recall audits need for a
    SQL-checkable ground truth.

    Plan / 100 TB: centroid count is the INDEX's k — constant by design —
    so the centroid matrix is a driver-collected broadcast guarded by
    ``max_centroids`` (raise, never an unbounded collect); assignment is
    one Arrow matmul pass over the corpus, no shuffle. A dim-keyed join
    would shuffle on a 64-value key — the skew cliff the cosine-histogram
    plan test pins against."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    c_rows = bounded_collect(
        centroids.select(
            F.col(cell_id_col).alias("cid"), as_double_array(vec_col).alias("cv")
        ).orderBy("cid"),
        max_centroids,
        "quantized_cell_assign",
        "max_centroids",
        "IVF coarse books are constant-sized by design",
    )
    if not c_rows:
        raise ValueError("quantized_cell_assign: empty centroid side")
    c_ids = np.asarray([r.cid for r in c_rows])
    cm = np.floor(
        np.asarray([r.cv for r in c_rows], dtype=np.float64) * scale
    ).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.floor(
                np.asarray(list(pdf["_v"]), dtype=np.float64) * scale
            ).astype(np.int64)
            s = x @ cm.T  # (n, C) int64; argmax takes the FIRST max —
            # centroids are id-sorted, so ties break toward the smaller id
            best = np.argmax(s, axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "cell": c_ids[best]})

    src = df.select(id_col, as_double_array(vec_col).alias("_v"))
    return _arrow_fence(src).mapInPandas(gen, f"{id_col} {id_type}, cell bigint")


def quantized_pair_dots(
    pairs: DataFrame,
    scale: int = 1024,
    a_vec: str = "qv",
    b_vec: str = "cv",
    dot_name: str = "dot",
) -> DataFrame:
    """Exact integer dot for pre-joined (…, qv, cv) candidate rows in one
    Arrow pass — the integer sibling of :func:`_score_candidate_pairs` for
    quantized-recall audits (vectorized (A·B).sum(1) per batch; never a
    per-row Python loop, never an interpreted higher-order Column chain on
    a candidate set whose size the plan does not bound)."""
    import numpy as np
    import pandas as pd

    out_cols = [c for c in pairs.columns if c not in (a_vec, b_vec)]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pairs.schema.fields
        if f.name in out_cols
    ) + f", {dot_name} bigint"

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.floor(
                np.asarray(list(pdf[a_vec]), dtype=np.float64) * scale
            ).astype(np.int64)
            b = np.floor(
                np.asarray(list(pdf[b_vec]), dtype=np.float64) * scale
            ).astype(np.int64)
            out = pdf[out_cols].copy()
            out[dot_name] = (a * b).sum(axis=1)
            yield out

    return pairs.mapInPandas(gen, schema)


def _score_candidate_pairs(cand: DataFrame) -> DataFrame:
    """Exact cosine for (query_id, neighbor_id, cv, qv) candidate rows in one
    Arrow pass (vectorized einsum per batch) — the re-rank step shared by
    lsh_topk/ivf_topk. Replaces the per-row interpreted higher-order fold
    (~30 µs/candidate) with C-speed batch math; candidate sets are bounded by
    construction, so this is map-side work with no extra shuffle. Id columns
    keep their incoming types (schema derived, not hard-coded)."""
    import numpy as np
    import pandas as pd

    q_id_type = cand.schema["query_id"].dataType.simpleString()
    n_id_type = cand.schema["neighbor_id"].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            a = np.asarray(list(pdf["cv"]), dtype=np.float64)
            b = np.asarray(list(pdf["qv"]), dtype=np.float64)
            den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            den[den == 0] = 1.0
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["neighbor_id"],
                    "score": np.einsum("ij,ij->i", a, b) / den,
                }
            )

    return cand.mapInPandas(
        gen, f"query_id {q_id_type}, neighbor_id {n_id_type}, score double"
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure-Python LCG — stable
    across runs/machines, no numpy state)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(bits):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            v.append(state / 0x7FFFFFFF * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Pack sign-of-dot-product bits into one long per vector."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(p) for p in plane]), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(F.shiftleft(F.when(d > 0, F.lit(1).cast("long")).otherwise(F.lit(0)), i))
    return sig


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 4,
    tables: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane LSH buckets, exact re-rank
    of candidates. Recall grows with `tables`; cost per query drops from
    O(N) to O(N / 2^bits * tables).

    Parameter note: bits/tables must match the data's neighbor geometry. The
    driver's embeddings are isotropic random (top-1 cosine ≈ 0.37, angle
    ≈ 68°), so per-bit agreement is only ~0.62 and short signatures with many
    tables are required (bits=4, tables=16 → ~0.9 recall). On real clustered
    embeddings (neighbor cosine ≥ 0.8) bits=16, tables=8 gives the same
    recall with ~1000× candidate reduction."""
    import numpy as np
    import pandas as pd

    planes = np.asarray(
        [p for t in range(tables) for p in _hyperplanes(dim, bits, seed + 1000 * t)]
    )  # (tables*bits, dim)
    bit_weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))

    def assign(id_name: str, vec_name: str, id_type: str):
        # one numpy matmul per Arrow batch instead of tables*bits interpreted
        # 64-element folds per row (measured 10.8 s -> sub-second at sf0.1)
        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.asarray(list(pdf[vec_name]), dtype=np.float64)
                d = x @ planes.T  # (n, tables*bits)
                bits_m = (d > 0).astype(np.uint64).reshape(len(pdf), tables, bits)
                sig = (bits_m * bit_weights).sum(axis=2).astype(np.int64)  # (n, tables)
                yield pd.DataFrame(
                    {
                        id_name: pdf[id_name].to_numpy().repeat(tables),
                        vec_name: [v for v in pdf[vec_name] for _ in range(tables)],
                        "tbl": np.tile(np.arange(tables, dtype=np.int32), len(pdf)),
                        "sig": sig.reshape(-1),
                    }
                )

        return gen, f"{id_name} {id_type}, {vec_name} array<double>, tbl int, sig bigint"

    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv"))
    c_gen, c_schema = assign("neighbor_id", "cv", corpus.schema[id_col].dataType.simpleString())
    q_gen, q_schema = assign("query_id", "qv", queries.schema[id_col].dataType.simpleString())
    c_banded = _arrow_fence(c).mapInPandas(c_gen, c_schema)
    q_banded = q.mapInPandas(q_gen, q_schema)
    cand = _score_candidate_pairs(
        c_banded.join(F.broadcast(q_banded), ["tbl", "sig"])
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", "cv", "qv")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine >= threshold) — EXACT all-pairs,
    executed as a blocked GEMM: vectors are hashed into `n_blocks` blocks,
    every vector is routed to each (its-block, other-block) group, and one
    applyInPandas per block pair computes the cosine matrix with a numpy
    matmul.

    Why not a crossJoin + Column cosine: the n² joined rows each evaluate an
    interpreted 64-element fold (~30 µs) — 36 s at 5k vectors, hopeless
    beyond. The blocked form shuffles each vector n_blocks times (512 B × 8
    here) and does the n² work inside BLAS at ~10⁹ mults/s. At 100 TB pick
    n_blocks so a block pair (2·N/n_blocks vectors) fits a task's memory;
    for huge corpora use lsh_topk-style candidate generation instead of
    exact all-pairs."""
    import numpy as np
    import pandas as pd

    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    v = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("nv"), blk.alias("b")
    )
    # route each vector to every block pair it participates in
    routed = v.select(
        "id",
        "nv",
        "b",
        F.explode(F.array(*[F.lit(j) for j in range(n_blocks)])).alias("other"),
    ).select(
        "id",
        "nv",
        "b",
        F.least("b", "other").alias("lo"),
        F.greatest("b", "other").alias("hi"),
    )
    # each unordered block pair {b, other} maps to exactly one (lo, hi) group
    # per vector, so no dedup (and no extra shuffle) is needed before groupBy

    def emit(key, pdf):
        lo, hi = key
        x = np.asarray(list(pdf["nv"]), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        xn = x / norms
        ids = pdf["id"].to_numpy()
        b = pdf["b"].to_numpy()
        if lo == hi:
            sims = xn @ xn.T
            ii, jj = np.where(np.triu(sims >= threshold, k=1))
            ia, ib = ids[ii], ids[jj]
        else:
            mi, mj = b == lo, b == hi
            if not mi.any() or not mj.any():
                return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0]})
            sims = xn[mi] @ xn[mj].T
            ii, jj = np.where(sims >= threshold)
            ia, ib = ids[mi][ii], ids[mj][jj]
        a = np.minimum(ia, ib)
        bb = np.maximum(ia, ib)
        keep = a != bb
        return pd.DataFrame({"id_a": a[keep], "id_b": bb[keep]})

    id_type = df.schema[id_col].dataType.simpleString()
    return routed.groupBy("lo", "hi").applyInPandas(
        emit, f"id_a {id_type}, id_b {id_type}"
    )


def lsh_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits: int = 8,
    tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs (cosine >= threshold) via LSH candidate buckets
    + exact cosine re-check — the documented 100 TB substitute for
    cosine_dup_pairs' exact blocked GEMM (same (id_a, id_b), id_a < id_b
    output contract, so connected_components consumes either
    interchangeably — the SemDeDup scale seam, VERDICT r5 #6).

    Recall contract: two vectors with IDENTICAL direction (cosine 1.0 —
    e.g. scaled copies) agree on the sign of every hyperplane dot product,
    so they share a signature in EVERY table and are always candidates.
    Near-but-not-identical directions are caught with probability
    1-(1-p^bits)^tables where p = 1 - angle/pi; at threshold 0.99
    (angle <= 8.1 degrees, p >= 0.955) bits=8, tables=8 gives >= 0.9998.
    False candidates cost only the re-check, never a wrong pair.

    100 TB plan: signatures are one numpy matmul per Arrow batch (map
    side); the only corpus-sized shuffle is the (tbl, sig) bucket
    self-join, and it carries ONLY (id, tbl, sig) rows — ~20 bytes per
    signature instead of the full vector payload (guide §8: decide with
    small rows, attach the heavy bytes once). Vectors re-attach to the
    DEDUPLICATED candidate pairs by two id-keyed joins against the input
    (broadcast when the corpus is small, shuffle-by-id at scale — either
    way the vector table moves at most twice, vs `tables`× when the
    banded rows carried it); the exact re-check is map-side Arrow. The
    banded frame is localCheckpoint-materialized once — it feeds both
    self-join sides, and exchange reuse does not dedupe Python-kernel
    subtrees. No all-pairs stage at any scale.

    PRECONDITION (ADVICE r13): ``id_col`` must be unique per row. The
    deduplicated candidate pairs re-attach vectors by id equi-joins; a
    corpus with duplicate ids would re-expand each deduped pair once per
    id copy (a multiplicity the pre-r13 carry-the-vectors plan did not
    have). Every caller passes a primary-key id; uniquify upstream if
    yours is not."""
    import numpy as np
    import pandas as pd

    planes = np.asarray(
        [p for t in range(tables) for p in _hyperplanes(dim, bits, seed + 1000 * t)]
    )
    bit_weights = (np.uint64(1) << np.arange(bits, dtype=np.uint64))
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf["nv"]), dtype=np.float64)
            d = x @ planes.T  # (n, tables*bits)
            bits_m = (d > 0).astype(np.uint64).reshape(len(pdf), tables, bits)
            sig = (bits_m * bit_weights).sum(axis=2).astype(np.int64)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy().repeat(tables),
                    "tbl": np.tile(np.arange(tables, dtype=np.int32), len(pdf)),
                    "sig": sig.reshape(-1),
                }
            )

    # v feeds THREE consumers — the Arrow signature pass and both
    # vector-attach joins — so materialize the (id, double[]) projection
    # once (guide §3.3; r14: previously each consumer re-scanned and
    # re-cast the vector column).
    v = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("nv")
    ).transform(plan_checkpoint)
    banded = v.mapInPandas(
        gen, f"id {id_type}, tbl int, sig bigint"
    ).transform(plan_checkpoint)
    a = banded.select(F.col("id").alias("query_id"), "tbl", "sig")
    b = banded.select(F.col("id").alias("neighbor_id"), "tbl", "sig")
    cand_ids = (
        a.join(b, ["tbl", "sig"])
        .filter(F.col("query_id") < F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cand = (
        cand_ids.join(
            v.select(F.col("id").alias("query_id"), F.col("nv").alias("qv")),
            "query_id",
        )
        .join(
            v.select(F.col("id").alias("neighbor_id"), F.col("nv").alias("cv")),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", "cv", "qv")
    )
    return (
        _score_candidate_pairs(cand)
        .filter(F.col("score") >= threshold)
        .select(
            F.col("query_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
        )
    )


def _train_centroids(
    corpus: DataFrame, vec_col: str, n_centroids: int, iters: int = 5, sample: int = 2048
):
    """IVF coarse quantizer: k-means on a deterministic driver-side sample
    (ordered by id, so stable across runs). This is standard IVF training —
    the sample and centroid count stay tiny no matter the corpus size."""
    import numpy as np

    rows = (
        corpus.orderBy(F.col("neighbor_id"))
        .limit(sample)
        .select("cv")
        .collect()
    )
    x = np.asarray([r.cv for r in rows], dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    cent = x[:: max(1, len(x) // n_centroids)][:n_centroids].copy()
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        for c in range(len(cent)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
    return cent


def _assign_cells(df: DataFrame, id_name: str, vec_name: str, cent, n_probe: int) -> DataFrame:
    """(id, vec, cell) rows — nearest `n_probe` centroid ids per vector via a
    numpy matmul in one Arrow pass (n_probe=1 for the corpus side)."""
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_name].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf[vec_name]), dtype=np.float64)
            norms = np.linalg.norm(x, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (x / norms) @ cent.T
            top = np.argsort(-sims, axis=1)[:, :n_probe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_name: pdf[id_name].to_numpy().repeat(n_probe),
                    vec_name: [v for v in pdf[vec_name] for _ in range(n_probe)],
                    "cell": top.reshape(-1).astype("int32"),
                }
            )

    return _arrow_fence(df).mapInPandas(
        gen, f"{id_name} {id_type}, {vec_name} array<double>, cell int"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: coarse k-means cells (trained on a driver-side
    sample), corpus assigned to its nearest cell, each query probing its
    `n_probe` nearest cells, exact cosine re-rank on the probed candidates.

    Scale: one Arrow map pass assigns the corpus (no shuffle), the cell join
    shuffles only probed cells, and per-query cost drops from O(N) to
    O(N * n_probe / n_centroids). Isotropic random data (the driver's
    embeddings) needs a high probe ratio for recall — real clustered
    embeddings separate far better (same caveat as lsh_topk)."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv"))
    q = queries.select(F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qv"))
    cent = _train_centroids(c, "cv", n_centroids)
    c_cells = _assign_cells(c, "neighbor_id", "cv", cent, n_probe=1)
    q_cells = _assign_cells(q, "query_id", "qv", cent, n_probe=n_probe)
    # corpus side is assigned with n_probe=1, so (query, neighbor) pairs are
    # already unique — no dedup shuffle needed before scoring
    cand = _score_candidate_pairs(
        c_cells.join(F.broadcast(q_cells), "cell").select(
            "query_id", "neighbor_id", "cv", "qv"
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    quant_bits: int = 20,
) -> DataFrame:
    """Per-label centroid of an embedding column: (label, pos, n_vecs,
    centroid) — one row per (label, dimension).

    Exactness across engines: double addition is order-dependent, so a
    naive avg() would hash-differently per partitioning. Instead each
    component is scaled by 2**quant_bits — EXACT in IEEE double (power-of-two
    scaling only shifts the exponent) — floored to a bigint, summed exactly,
    and divided back once. The result is the centroid quantized at
    2**-quant_bits resolution, identical bit-for-bit on any engine and any
    partitioning.

    Plan: posexplode inflates rows ×dim map-side but flows straight into the
    partial hash-aggregate (labels × dims cells per task), so the shuffle
    carries only per-partition partials — the standard scalable layout for
    columnwise vector aggregation."""
    scale = float(1 << quant_bits)
    exploded = df.select(F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)))
    q = F.floor(F.col("col").cast("double") * F.lit(scale)).cast("bigint")
    return (
        exploded.groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum(q).alias("qsum"))
        .select(
            "label",
            "pos",
            "n_vecs",
            (F.col("qsum").cast("double") / (F.col("n_vecs").cast("double") * F.lit(scale))).alias(
                "centroid"
            ),
        )
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification: (query_id, pred_label, votes).

    Composition of brute_force_topk (per-batch GEMM + window merge) with a
    broadcast label lookup and a deterministic argmax (most votes, ties to
    the smaller label). The label table is one row per corpus vector id —
    broadcast only when the corpus is small; here it rides the existing
    top-k output, which is Q×k rows, so the vote aggregation is trivially
    cheap at any corpus scale."""
    topk = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    labels = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nl"))
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("nl"))
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", F.col("nl").alias("pred_label"), "votes")
    )


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_anchors: int = 1_000_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor
    vector, the top-k most cosine-similar corpus vectors whose label
    DIFFERS from the anchor's (the "hard" negatives — near the decision
    boundary, unlike the random negatives `curation.contrastive_pairs`
    draws). Returns (anchor_id, negative_id, rank, score), ties broken by
    neighbor id.

    Execution mirrors :func:`brute_force_topk`: the anchor block (ids,
    vectors AND labels) is collected — broadcast-small by contract,
    enforced by ``max_anchors`` — and each corpus Arrow batch scores
    itself against all anchors in one BLAS matmul, masks the same-label
    columns to -inf, and emits only its per-anchor top-k. The shuffle
    carries n_batches × A × k rows, never N × A; a final window rank
    merges the partials. At 100 TB the corpus side stays fully
    distributed and the label filter costs one vectorized comparison per
    batch (no join: labels ride the collected anchor matrix)."""
    import numpy as np
    import pandas as pd

    a_id_type = anchors.schema[id_col].dataType.simpleString()
    c_id_type = corpus.schema[id_col].dataType.simpleString()
    a_rows = bounded_collect(
        anchors.select(
            F.col(id_col).alias("aid"),
            as_double_array(vec_col).alias("av"),
            F.col(label_col).alias("al"),
        ),
        max_anchors,
        "hard_negatives",
        "max_anchors",
        "the exact path collects+broadcasts every anchor vector.",
    )
    c = corpus.select(
        F.col(id_col).alias("negative_id"),
        as_double_array(vec_col).alias("cv"),
        F.col(label_col).alias("cl"),
    )
    if not a_rows:
        return c.limit(0).select(
            F.col("negative_id").cast(a_id_type).alias("anchor_id"),
            "negative_id",
            F.lit(1).alias("rank"),
            F.lit(0.0).alias("score"),
        )
    a_ids = np.asarray([r.aid for r in a_rows])
    a_labels = np.asarray([r.al for r in a_rows])
    am = np.asarray([r.av for r in a_rows], dtype=np.float64)
    an = np.linalg.norm(am, axis=1)
    an[an == 0] = 1.0
    amn = am / an[:, None]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf["cv"]), dtype=np.float64)
            xn = np.linalg.norm(x, axis=1)
            xn[xn == 0] = 1.0
            s = (x / xn[:, None]) @ amn.T  # (n, A)
            same = pdf["cl"].to_numpy()[:, None] == a_labels[None, :]
            s[same] = -np.inf
            nb = pdf["negative_id"].to_numpy()
            by_nb = np.argsort(nb, kind="stable")
            out_a, out_n, out_s = [], [], []
            for j in range(len(a_ids)):
                idx = by_nb[np.argsort(-s[by_nb, j], kind="stable")]
                idx = idx[np.isfinite(s[idx, j])][: min(k, len(nb))]
                if not len(idx):
                    continue
                out_a.append(np.full(len(idx), a_ids[j]))
                out_n.append(nb[idx])
                out_s.append(s[idx, j])
            if not out_a:
                continue
            yield pd.DataFrame(
                {
                    "anchor_id": np.concatenate(out_a),
                    "negative_id": np.concatenate(out_n),
                    "score": np.concatenate(out_s),
                }
            )

    scored = _arrow_fence(c).mapInPandas(
        gen, f"anchor_id {a_id_type}, negative_id {c_id_type}, score double"
    )
    w = W.partitionBy("anchor_id").orderBy(F.desc("score"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "negative_id", "rank", "score")
    )


def quantize_int8_summary(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric int8 quantization summary per vector — the compression step
    ANN systems apply before indexing (scale = 127/max|v|, q_i =
    clip(floor(v_i·scale), -127, 127)): (id, max_abs, scale, qsum, qmin,
    qmax). The clip is load-bearing: the scale round trip carries a ±1-ulp
    error, so the extreme negative element can otherwise floor to -128.

    Exactness: elements are widened float32→float64 BEFORE any arithmetic
    (numpy float64 ops are the same IEEE doubles DuckDB computes);
    max/min/int-sums are order-independent; zero/empty vectors take scale
    1.0 to avoid inf·0 = NaN.

    Plan: ONE Arrow pass, ZERO shuffle — vectors are row-local, so a
    posexplode + window/agg formulation would blow rows up dim× through an
    exchange for what is a per-row reduction. numpy does the whole batch in
    C."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("_id", "max_abs", "scale", "qsum", "qmin", "qmax")}
            for i, vec in zip(pdf[id_col], pdf[vec_col]):
                v = np.asarray(vec, dtype=np.float64)
                if v.size == 0:
                    # empty vector: one row, scale 1.0, all-zero summary —
                    # callers joining back get one row per input vector
                    max_abs, scale, q = 0.0, 1.0, np.zeros(1, dtype=np.int64)
                else:
                    max_abs = float(np.max(np.abs(v)))
                    scale = 1.0 if max_abs == 0.0 else 127.0 / max_abs
                    # clamp: v*(127/max|v|) carries a ±1-ulp error, so the
                    # extreme element can floor to -128 (observed on real
                    # data) — a true int8 symmetric quantizer clips
                    q = np.clip(np.floor(v * scale), -127.0, 127.0).astype(np.int64)
                out["_id"].append(i)
                out["max_abs"].append(max_abs)
                out["scale"].append(scale)
                out["qsum"].append(int(q.sum()))
                out["qmin"].append(int(q.min()))
                out["qmax"].append(int(q.max()))
            pdf_out = pd.DataFrame(out)
            yield pdf_out.rename(columns={"_id": id_col})

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        gen,
        f"{id_col} {id_type}, max_abs double, scale double, "
        "qsum bigint, qmin bigint, qmax bigint",
    )


def embedding_norm_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1 << 14,
    dev_num: int = 1,
    dev_den: int = 4,
    top: int | None = None,
) -> DataFrame:
    """Embedding QA: vectors whose squared norm deviates from the corpus
    mean by more than ``dev_num/dev_den`` (default 25%) — truncated inputs,
    zero vectors and un-normalized batches show up here before they poison
    ANN recall. With ``top`` set, the threshold is ignored and the ``top``
    MOST deviant vectors are returned instead (|q·n − S| desc, id asc) —
    the always-answerable "show me the worst norms" triage view, planned as
    a bounded-heap TakeOrderedAndProject, never a global sort.

    Determinism discipline (the events_anomaly_minutes pattern): each
    element contributes floor(x² · scale) as a BIGINT, so the per-vector
    norm and all corpus sums are EXACT integers — order-free on any engine.
    The deviation test |q·n − S| · dev_den > S · dev_num is pure integer
    arithmetic; the reported ratio is one IEEE division of exact integers.
    No corpus-level float accumulation exists anywhere.

    Returns (id, norm_q, dev_ratio) for flagged vectors.

    Plan/scale: the quantized norm is a map-side fold; (n, S) is one scalar
    aggregate broadcast back via crossJoin — the corpus streams once. The
    in-vector fold is a Catalyst higher-order function (interpreted): fine
    for embedding dims (10²), not for document-length arrays — wide vectors
    should quantize via the Arrow pass (quantize_int8_summary's kernel)."""
    x2 = lambda x: x.cast("double") * x.cast("double") * F.lit(float(scale))  # noqa: E731
    q = F.aggregate(
        F.col(vec_col),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.floor(x2(x)).cast("bigint"),
    )
    per_vec = df.select(F.col(id_col).alias("id"), q.alias("norm_q"))
    stats = per_vec.agg(
        F.count(F.lit(1)).alias("n"), F.sum("norm_q").alias("s")
    )
    joined = per_vec.crossJoin(F.broadcast(stats))
    dev = F.col("norm_q") * F.col("n") - F.col("s")
    out = joined.select(
        "id",
        "norm_q",
        F.abs(dev).alias("_absdev"),
        (dev.cast("double") / F.col("s")).alias("dev_ratio"),
        "s",
    )
    if top is not None:
        return (
            out.orderBy(F.desc("_absdev"), F.asc("id"))
            .limit(int(top))
            .select("id", "norm_q", "dev_ratio")
        )
    return out.filter(
        F.col("_absdev") * F.lit(int(dev_den)) > F.col("s") * F.lit(int(dev_num))
    ).select("id", "norm_q", "dev_ratio")


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 1_000_000,
    q_rows: list | None = None,
) -> DataFrame:
    """Int8-quantized cosine top-k — the memory-bound ANN serving path
    (4× smaller vectors than float32, 8× smaller than float64; integer
    dot products). Each vector is symmetrically quantized with the SAME
    convention as :func:`quantize_int8_summary` (scale = 127/max|v|,
    q_i = clip(floor(v_i*scale), -127, 127)) and scored by quantized
    cosine: (qc·qq) / (sqrt(qc·qc) * sqrt(qq·qq)).

    Returns (query_id, neighbor_id, rank, score), ties broken by neighbor
    id. Cross-engine determinism is EXACT here, unlike the float path:
    every dot product and norm-square is integer arithmetic (≤ dim·127²,
    exact in int64 and in the doubles both engines convert to), and the
    final sqrt/multiply/divide chain is one correctly-rounded IEEE op per
    step on identical inputs — so even the scores are bit-identical, and
    quantization ties (common, the int lattice is coarse) break on the id
    in both engines identically.

    Execution mirrors :func:`brute_force_topk` (collected+broadcast query
    block, per-batch integer matmul, partial top-k per batch, window
    merge); the same ``max_queries`` broadcast-small contract is enforced.
    100 TB: corpus-side work is one Arrow pass emitting n_batches×Q×k rows
    — the int8 matrices are ¼ the float32 scan bytes, which is the point
    of serving quantized."""
    import numpy as np
    import pandas as pd

    def _quant(m: "np.ndarray") -> "np.ndarray":
        max_abs = np.abs(m).max(axis=1)
        # all-zero rows take scale 1.0 (quantize to zeros, no div-by-zero)
        scale = 127.0 / np.where(max_abs == 0.0, 127.0, max_abs)
        return np.clip(np.floor(m * scale[:, None]), -127.0, 127.0).astype(np.int64)

    q_id_type = queries.schema[id_col].dataType.simpleString()
    c_id_type = corpus.schema[id_col].dataType.simpleString()
    if q_rows is None:
        q_rows = collect_query_block(
            queries, id_col, vec_col, max_queries, caller="quantized_topk"
        )
    # also holds a caller-shared q_rows block to this kernel's own bound
    _check_bound(q_rows, max_queries, "quantized_topk", "max_queries", _QUERY_HINT)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    if not q_rows:
        return c.limit(0).select(
            F.col("neighbor_id").cast(q_id_type).alias("query_id"),
            "neighbor_id",
            F.lit(1).alias("rank"),
            F.lit(0.0).alias("score"),
        )
    q_ids = np.asarray([r.qid for r in q_rows])
    qq = _quant(np.asarray([r.qv for r in q_rows], dtype=np.float64))  # (Q, d) int64
    qn2 = (qq * qq).sum(axis=1)  # exact ints
    qnorm = np.sqrt(qn2.astype(np.float64))
    qnorm[qnorm == 0.0] = 1.0

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            qx = _quant(np.asarray(list(pdf["cv"]), dtype=np.float64))  # (n, d) int64
            cn2 = (qx * qx).sum(axis=1)
            cnorm = np.sqrt(cn2.astype(np.float64))
            cnorm[cnorm == 0.0] = 1.0
            dot = qx @ qq.T  # (n, Q) exact int64
            # fixed op order — dot / (cnorm * qnorm), mirrored by the oracle
            s = dot.astype(np.float64) / (cnorm[:, None] * qnorm[None, :])
            nb = pdf["neighbor_id"].to_numpy()
            top = min(k, len(nb))
            by_nb = np.argsort(nb, kind="stable")
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                idx = by_nb[np.argsort(-s[by_nb, j], kind="stable")][:top]
                out_q.append(np.full(top, q_ids[j]))
                out_n.append(nb[idx])
                out_s.append(s[idx, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "score": np.concatenate(out_s),
                }
            )

    scored = _arrow_fence(c).mapInPandas(
        gen, f"query_id {q_id_type}, neighbor_id {c_id_type}, score double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def nearest_anchor(
    df: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_id_col: str = "anchor_id",
    max_anchors: int = 100_000,
) -> DataFrame:
    """Assign every vector to its nearest anchor by cosine — the
    partition-assignment step of IVF indexing / embedding-space sharding,
    exposed standalone so cell-balance can be audited before committing to
    an anchor set. Ties break on the anchor id.

    Output: (id_col, anchor_id, score).

    Execution: the anchor set is collected+broadcast (enforced small, like
    brute_force_topk's query block); assignment is ONE map-side Arrow pass
    — a (batch × anchors) matmul and a per-row argmax. ZERO shuffle: at
    100 TB the corpus is read once and never exchanged; the output column
    rides with each row for downstream per-cell aggregation (which then
    shuffles only (cell, agg) state)."""
    import numpy as np
    import pandas as pd

    a_rows = bounded_collect(
        anchors.select(
            F.col(anchor_id_col).alias("aid"), as_double_array(vec_col).alias("av")
        ),
        max_anchors,
        "nearest_anchor",
        "max_anchors",
        "anchors are collected+broadcast by contract",
    )
    if not a_rows:
        raise ValueError("nearest_anchor: empty anchor set")
    id_type = df.schema[id_col].dataType.simpleString()
    aid_type = anchors.schema[anchor_id_col].dataType.simpleString()
    # sort by anchor id so np.argmax's first-max tie rule IS the id rule
    a_rows = sorted(a_rows, key=lambda r: r.aid)
    a_ids = np.asarray([r.aid for r in a_rows])
    am = np.asarray([r.av for r in a_rows], dtype=np.float64)
    an = np.linalg.norm(am, axis=1)
    an[an == 0] = 1.0
    amn = am / an[:, None]

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf["v"]), dtype=np.float64)
            xn = np.linalg.norm(x, axis=1)
            xn[xn == 0] = 1.0
            s = (x / xn[:, None]) @ amn.T  # (n, A)
            best = np.argmax(s, axis=1)
            yield pd.DataFrame(
                {
                    "_id": pdf["_id"],
                    "anchor_id": a_ids[best],
                    "score": s[np.arange(len(best)), best],
                }
            )

    return (
        df.select(F.col(id_col).alias("_id"), as_double_array(vec_col).alias("v"))
        .mapInPandas(gen, f"_id {id_type}, anchor_id {aid_type}, score double")
        .withColumnRenamed("_id", id_col)
    )


def rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    candidate_k: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_rows: list | None = None,
) -> DataFrame:
    """Two-stage ANN serving: cheap int8-quantized candidate generation
    (:func:`quantized_topk`, ``candidate_k`` per query) followed by an
    EXACT float cosine re-rank of just those candidates — the standard
    coarse-then-precise retrieval layout (quantized index scans the
    corpus; the float vectors are fetched only for the shortlist).

    Returns (query_id, neighbor_id, rank), rank 1..k by exact cosine over
    the candidate set, ties broken by neighbor id.

    Plan / 100 TB notes: stage 1 is the quantized corpus scan (¼ the
    float32 bytes); stage 2 touches candidate_k × Q rows only, so the
    exact cosine here runs as Catalyst ``zip_with``/``aggregate`` HOFs —
    interpreted, but over a shortlist-sized frame where that cost is
    irrelevant (the same HOFs on the full corpus were measured at
    ~30 µs/pair and rejected for stage 1). The float-vector fetch is a
    corpus-keyed join on neighbor_id; the query block is collected ONCE
    (one job — shared with stage 1's quantized scan via ``q_rows``) and
    re-enters stage 2 as a broadcast local relation, so the query table
    is never scanned a second time."""
    if k <= 0 or candidate_k < k:
        raise ValueError("need 0 < k <= candidate_k")
    if q_rows is None:
        q_rows = collect_query_block(
            queries, id_col=id_col, vec_col=vec_col, caller="rerank_topk"
        )
    cand = quantized_topk(
        corpus, queries, k=candidate_k, id_col=id_col, vec_col=vec_col, q_rows=q_rows
    ).select("query_id", "neighbor_id")
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("_cv")
    )
    q_id_type = queries.schema[id_col].dataType.simpleString()
    qvec = corpus.sparkSession.createDataFrame(
        [(r.qid, list(r.qv)) for r in q_rows],
        schema=f"query_id {q_id_type}, _qv array<double>",
    )
    dot = F.aggregate(
        F.zip_with("_cv", "_qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nc = F.sqrt(
        F.aggregate(
            F.transform("_cv", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    nq = F.sqrt(
        F.aggregate(
            F.transform("_qv", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    scored = (
        cand.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select("query_id", "neighbor_id", (dot / (nc * nq)).alias("_score"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("_score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1024,
    inertia_curve: bool = False,
) -> DataFrame:
    """DISTRIBUTED Lloyd k-means over an embedding column, exact-integer
    end-to-end — the full-corpus counterpart of `_train_centroids` (which
    runs on a driver-side sample, the IVF convention). Returns per-cluster
    (cid, n_members, id_checksum, inertia) after `iters` refinement rounds
    from deterministic seeds (the k lowest-id vectors).

    Determinism/oracle contract: vectors quantize to integers with
    floor(x * scale) — scale is a power of two, so x*scale is EXACT in
    binary floating point and floor carries no rounding ambiguity. Squared
    L2 distances, argmin assignment (ties -> lowest cluster id), centroid
    updates floor(sum/count) and the final inertia are then all int64
    arithmetic: any engine reproduces every cluster bit-for-bit. Empty
    clusters keep their previous centroid.

    Scale shape (the standard 100 TB Lloyd loop): per round, ONE Arrow map
    pass assigns each partition against the broadcast k x d centroid matrix
    via an int64 GEMM and emits that partition's partial sums — one
    (cid, cnt, d2s, s) row per non-empty cluster, so a task returns at most
    k x (d+2) integers whatever the corpus size — and the driver adds them
    in Python ints. A round is one job with no shuffle; the k new centroids
    sync through the driver, the unavoidable Lloyd barrier of k*d ints per
    round. The final assignment pass hands only (id, cid, d2) to the JVM
    for the per-cluster aggregate.

    Overflow is loud, never a silent wrap: every int64 the kernel forms
    (distances, per-partition counts and sums) is bounded by n*d*(2M)^2 for
    n rows seen in the partition and M the largest |coordinate| of those
    rows and the centroids, and the kernel raises OverflowError once that
    bound passes int64. The driver raises the same when a cross-partition
    total leaves int64 (where an ANSI bigint sum would fail)."""
    import numpy as np
    import pandas as pd

    i64_max = int(np.iinfo(np.int64).max)
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("bigint"),
    )
    # Quantize once and materialize: every Lloyd round (and the seed
    # collect) re-reads this frame — without the checkpoint each of the
    # iters+1 assign passes re-runs scan + quantize + the parallelism
    # fence's exchange (guide §3.3 / §5: materialize a reused intermediate).
    base = _arrow_fence(
        df.select(F.col(id_col).alias("id"), q.alias("q"))
    ).transform(plan_checkpoint)
    seeds = base.orderBy("id").limit(k).collect()
    if len(seeds) < k:
        raise ValueError(f"kmeans_lloyd: need >= {k} rows, got {len(seeds)}")
    cent = np.asarray([r.q for r in seeds], dtype=np.int64)
    dims = cent.shape[1]

    def assigner(centroids: np.ndarray):
        """Batches -> (batch, x, cid, d2) against a frozen centroid copy."""
        cmat = centroids.copy()
        cnorm = (cmat * cmat).sum(axis=1)
        cmax = int(np.abs(cmat).max())

        def assigned(batches):
            n, m = 0, cmax
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.asarray(list(pdf["q"]), dtype=np.int64)
                n += len(x)
                m = max(m, int(x.max()), -int(x.min()))
                if n * dims * (2 * m) ** 2 > i64_max:
                    raise OverflowError(
                        f"kmeans_lloyd: int64 overflow: {n} rows x {dims} dims "
                        f"with |coordinate| up to {m} (after scale={scale}) "
                        "exceed the exact-integer range"
                    )
                d2 = (
                    (x * x).sum(axis=1, keepdims=True)
                    - 2 * (x @ cmat.T)
                    + cnorm[None, :]
                )
                cid = d2.argmin(axis=1)  # first minimum = lowest cluster id
                yield pdf, x, cid, d2[np.arange(len(x)), cid]

        return assigned

    def lloyd_round(centroids: np.ndarray) -> dict[int, list[int]]:
        """cid -> [cnt, d2 sum, coordinate sums...] over the whole corpus."""
        assigned = assigner(centroids)

        def partials(batches):
            acc = np.zeros((k, dims + 2), dtype=np.int64)
            for _, x, cid, d2 in assigned(batches):
                np.add.at(acc, cid, np.column_stack([np.ones_like(d2), d2, x]))
            hit = np.flatnonzero(acc[:, 0])
            if len(hit):
                yield pd.DataFrame(
                    {
                        "cid": hit,
                        "cnt": acc[hit, 0],
                        "d2s": acc[hit, 1],
                        "s": list(acc[hit, 2:]),
                    }
                )

        totals: dict[int, list[int]] = {}
        for r in base.mapInPandas(
            partials, "cid bigint, cnt bigint, d2s bigint, s array<bigint>"
        ).collect():
            row, prev = [r.cnt, r.d2s, *r.s], totals.get(r.cid)
            totals[r.cid] = row if prev is None else [a + b for a, b in zip(prev, row)]
        if any(abs(v) > i64_max for t in totals.values() for v in t):
            raise OverflowError("kmeans_lloyd: int64 overflow in a cluster total")
        return totals

    # inertia_curve rides the per-round driver sync: the d2 sums come back
    # with the centroid sums, so the curve costs no extra pass, and its last
    # point is one more round's totals instead of a grouped aggregate.
    def curve_point(it: int, totals: dict[int, list[int]]) -> tuple[int, int, int]:
        return it, sum(t[0] for t in totals.values()), sum(t[1] for t in totals.values())

    curve: list[tuple[int, int, int]] = []
    for it in range(iters):
        totals = lloyd_round(cent)
        if inertia_curve:
            curve.append(curve_point(it, totals))
        nxt = cent.copy()
        for c, (cnt, _, *sums) in totals.items():
            nxt[c] = [v // cnt for v in sums]
        cent = nxt

    if inertia_curve:
        curve.append(curve_point(iters, lloyd_round(cent)))
        return df.sparkSession.createDataFrame(
            curve, "iter bigint, n_points bigint, inertia bigint"
        )
    assigned = assigner(cent)

    def labels(batches):
        for pdf, _, cid, d2 in assigned(batches):
            yield pd.DataFrame({"id": pdf["id"], "cid": cid.astype("int64"), "d2": d2})

    return (
        base.mapInPandas(labels, "id bigint, cid bigint, d2 bigint")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("id").alias("id_checksum"),
            F.sum("d2").alias("inertia"),
        )
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_sub: int = 8,
    n_cent: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1024,
    max_queries: int = 1_000_000,
) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance (ADC) scoring
    (Jégou/Douze/Schmid 2011): vectors are chopped into ``n_sub``
    subspaces, each encoded as its nearest codebook centroid id, and a
    query scores a vector as the SUM of per-subspace lookup-table
    distances — so the served index stores n_sub bytes per vector instead
    of the full float array, the property that makes billion-vector
    serving fit in memory.

    Returns (query_id, neighbor_id, rank, d2) — approx squared-L2 in the
    quantized integer space, ties broken by neighbor id.

    Determinism: power-of-two quantization (exact), codebooks seeded from
    the ``n_cent`` lowest-id corpus vectors (refine with
    `kmeans_lloyd`-style training in production — seeding keeps this
    oracle-checkable without unrolling Lloyd per subspace), every
    distance/argmin/sum in int64. Scale shape: codebook and query LUTs are
    driver-tiny and broadcast into ONE Arrow pass that encodes each corpus
    batch and emits per-query ADC distances (no shuffle); the only
    shuffle is the final per-query top-k (WindowGroupLimit heaps).

    The broadcast-small query contract is ENFORCED like every sibling
    kernel's (brute_force/maxsim/quantized): more than ``max_queries``
    query rows raises instead of silently OOMing the driver on the LUT
    collect — and the scored frame is queries × corpus sized, so an
    unbounded query side is wrong twice over. The limit(max+1) collect
    keeps the guard a single job (no extra count)."""
    import numpy as np
    import pandas as pd

    if n_sub < 1 or n_cent < 1:
        raise ValueError(f"pq_adc_topk: n_sub/n_cent must be >= 1, got {n_sub}/{n_cent}")
    qz = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("bigint"),
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), qz.alias("q"))
    qdf = queries.select(F.col(id_col).alias("query_id"), qz.alias("q"))

    seeds = c.orderBy("neighbor_id").limit(n_cent).collect()
    if len(seeds) < n_cent:
        raise ValueError(f"pq_adc_topk: need >= {n_cent} corpus rows, got {len(seeds)}")
    cb = np.asarray([r.q for r in seeds], dtype=np.int64)  # n_cent x dims
    dims = cb.shape[1]
    if dims % n_sub:
        raise ValueError(f"pq_adc_topk: {dims} dims not divisible by {n_sub} subspaces")
    d_sub = dims // n_sub
    cb_sub = cb.reshape(n_cent, n_sub, d_sub)  # (cent, sub, d)

    qrows = bounded_collect(
        qdf,
        max_queries,
        "pq_adc_topk",
        "max_queries",
        "the ADC path collects+broadcasts every query LUT. Use lsh_topk "
        "or ivf_topk for large query sets.",
    )
    qids = np.asarray([r.query_id for r in qrows], dtype=np.int64)
    qmat = np.asarray([r.q for r in qrows], dtype=np.int64).reshape(
        len(qrows), n_sub, d_sub
    )
    # LUT[qi, s, c] = ||query_sub - centroid_sub||^2, exact int64
    lut = ((qmat[:, None, :, :] - cb_sub[None, :, :, :]) ** 2).sum(axis=3)
    lut = np.transpose(lut, (0, 2, 1))  # (query, sub, cent)


    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(list(pdf["q"]), dtype=np.int64).reshape(
                len(pdf), n_sub, d_sub
            )
            # encode: nearest centroid per subspace (first min = lowest id)
            d2 = ((x[:, None, :, :] - cb_sub[None, :, :, :]) ** 2).sum(axis=3)
            codes = d2.argmin(axis=1)  # (n, sub)
            # ADC: sum LUT entries along the code path, per query
            approx = lut[:, np.arange(n_sub)[None, :], codes].sum(axis=2)
            # approx shape: (n_query, n_rows)
            n = len(pdf)
            nq = len(qids)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n),
                    "neighbor_id": np.tile(pdf["neighbor_id"].to_numpy(), nq),
                    "d2": approx.reshape(-1),
                }
            )

    scored = _arrow_fence(c).mapInPandas(
        gen, "query_id bigint, neighbor_id bigint, d2 bigint"
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_blocks: int = 8,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """LATE-INTERACTION retrieval (ColBERT-style MaxSim, Khattab &
    Zaharia SIGIR'20): each vector splits into ``n_blocks`` contiguous
    sub-vectors standing in for token embeddings, and the pair score is
    ``sum_i max_j <q_i, d_j>`` — every query block matches its best
    document block, then the matches sum. Scores are INTEGER-exact: both
    sides quantize with the :func:`quantized_topk` convention
    (scale 127/max|v| over the FULL vector, floor, clip), so every block
    dot is int64 arithmetic and engines agree bit-for-bit; ties break on
    neighbor id.

    Returns (query_id, neighbor_id, rank, score) with score BIGINT.

    Execution follows the serving scaffold of :func:`quantized_topk`:
    collected+broadcast query blocks (``max_queries`` contract), one
    Arrow pass over the corpus doing the einsum per batch, per-batch
    partial top-k, window merge. 100 TB: the corpus never shuffles — only
    n_batches*Q*k candidate rows do; block count multiplies FLOPs, not
    shuffle bytes. For real multi-vector corpora swap the brute-force
    candidate set for an ANN shortlist and keep the same exact re-score."""
    import numpy as np
    import pandas as pd

    def _quant(m: "np.ndarray") -> "np.ndarray":
        max_abs = np.abs(m).max(axis=1)
        scale = 127.0 / np.where(max_abs == 0.0, 127.0, max_abs)
        return np.clip(np.floor(m * scale[:, None]), -127.0, 127.0).astype(np.int64)

    q_id_type = queries.schema[id_col].dataType.simpleString()
    c_id_type = corpus.schema[id_col].dataType.simpleString()
    q_rows = collect_query_block(
        queries, id_col, vec_col, max_queries, caller="maxsim_topk"
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("cv")
    )
    if not q_rows:
        return c.limit(0).select(
            F.col("neighbor_id").cast(q_id_type).alias("query_id"),
            "neighbor_id",
            F.lit(1).alias("rank"),
            F.lit(0).cast("bigint").alias("score"),
        )
    dim = len(q_rows[0].qv)
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible by n_blocks {n_blocks}")
    bd = dim // n_blocks
    q_ids = np.asarray([r.qid for r in q_rows])
    qq = _quant(np.asarray([r.qv for r in q_rows], dtype=np.float64))
    qb = qq.reshape(len(q_rows), n_blocks, bd)  # (Q, B, bd) int64

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cm = _quant(np.asarray(list(pdf["cv"]), dtype=np.float64))
            cb = cm.reshape(len(cm), n_blocks, bd)  # (N, B, bd)
            # (Q, qb, N, cb) int64 exact, then max over cb, sum over qb
            dots = np.einsum("qbd,ncd->qbnc", qb, cb, dtype=np.int64)
            s = dots.max(axis=3).sum(axis=1)  # (Q, N)
            nb = pdf["neighbor_id"].to_numpy()
            top = min(k, len(nb))
            by_nb = np.argsort(nb, kind="stable")
            out_q, out_n, out_s = [], [], []
            for j in range(len(q_ids)):
                idx = by_nb[np.argsort(-s[j, by_nb], kind="stable")][:top]
                out_q.append(np.full(top, q_ids[j]))
                out_n.append(nb[idx])
                out_s.append(s[j, idx])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "score": np.concatenate(out_s),
                }
            )

    scored = _arrow_fence(c).mapInPandas(
        gen, f"query_id {q_id_type}, neighbor_id {c_id_type}, score bigint"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )
