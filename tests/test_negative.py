"""Error-path tests — the reference's clientnegative corpus (SURVEY §5: 748
error-path q-files) in miniature: malformed queries and misuse must fail
with analysis errors, not wrong results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from hdp2_5_hive2_spark.catalog import load_tables, register_views
from hdp2_5_hive2_spark.functions import hive_fn
from hdp2_5_hive2_spark.plans import salted_aggregate, salted_join
from hdp2_5_hive2_spark.storage.writer import insert_overwrite
from tests.conftest import SF_CORRECT


def test_unknown_column_rejected(spark):
    register_views(spark, SF_CORRECT)
    with pytest.raises(AnalysisException):
        spark.sql("SELECT no_such_column FROM nation").collect()


def test_unknown_table_rejected(spark):
    with pytest.raises(AnalysisException):
        spark.sql("SELECT * FROM definitely_not_a_table").collect()


def test_aggregate_in_where_rejected(spark):
    register_views(spark, SF_CORRECT)
    with pytest.raises(AnalysisException):
        spark.sql("SELECT n_regionkey FROM nation WHERE COUNT(*) > 1").collect()


def test_nonaggregated_column_rejected(spark):
    register_views(spark, SF_CORRECT)
    with pytest.raises(AnalysisException):
        spark.sql("SELECT n_name, COUNT(*) FROM nation GROUP BY n_regionkey").collect()


def test_ambiguous_column_rejected(spark):
    register_views(spark, SF_CORRECT)
    with pytest.raises(AnalysisException):
        spark.sql(
            "SELECT n_nationkey FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey"
        ).collect()


def test_unknown_hive_function_rejected():
    with pytest.raises(KeyError):
        hive_fn("definitely_not_a_hive_function")


def test_bad_storage_format_rejected(spark):
    nation = load_tables(spark, SF_CORRECT)["nation"]
    with pytest.raises(ValueError):
        insert_overwrite(nation, "/tmp/hdp2_5_hive2_spark_io/bad", fmt="rcfile")


def test_salted_aggregate_rejects_nonalgebraic(spark):
    li = load_tables(spark, SF_CORRECT)["lineitem"]
    with pytest.raises(ValueError):
        salted_aggregate(
            li, ["l_returnflag"], {"a": ("avg", "l_quantity")}, "l_orderkey"
        )


def test_salted_join_rejects_outer(spark):
    t = load_tables(spark, SF_CORRECT)
    with pytest.raises(ValueError):
        salted_join(t["orders"], t["customer"], ["o_custkey"], "o_orderkey", how="full")


def test_asof_join_rejects_bad_args(spark):
    from hdp2_5_hive2_spark.timeseries import asof_join

    df = spark.createDataFrame([(1, 1)], "k bigint, ts bigint")
    with pytest.raises(ValueError, match="how"):
        asof_join(df, df, on=["k"], how="full")
    with pytest.raises(ValueError, match="direction"):
        asof_join(df, df, on=["k"], direction="nearest")


def test_range_join_rejects_bad_args(spark):
    from hdp2_5_hive2_spark.plans.range_join import bucketed_range_join

    l = spark.createDataFrame([(1, 1.0)], "id bigint, v double")
    r = spark.createDataFrame([(0, 0.0, 2.0)], "tier int, lo double, hi double")
    with pytest.raises(ValueError, match="inner"):
        bucketed_range_join(l, "v", r, "lo", "hi", 1.0, how="full")
    with pytest.raises(ValueError, match="positive"):
        bucketed_range_join(l, "v", r, "lo", "hi", 0.0)


def test_connected_components_empty_edges(spark):
    from hdp2_5_hive2_spark.llm import curation

    edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert curation.connected_components(edges).count() == 0


def test_bm25_rejects_empty_query(spark):
    from hdp2_5_hive2_spark.llm.retrieval import bm25_rank

    d = load_tables(spark, SF_CORRECT)["documents"]
    with pytest.raises(ValueError, match="at least one query term"):
        bm25_rank(d, [])


def test_feature_hashing_rejects_bad_dim(spark):
    from hdp2_5_hive2_spark.llm.retrieval import feature_hash_vectors

    d = load_tables(spark, SF_CORRECT)["documents"]
    with pytest.raises(ValueError, match="dim >= 1"):
        feature_hash_vectors(d, dim=0)


def test_column_stats_rejects_bad_inputs(spark):
    from hdp2_5_hive2_spark.stats import approx_ndv_accuracy, column_stats

    o = load_tables(spark, SF_CORRECT)["orders"]
    with pytest.raises(ValueError, match="at least one column"):
        column_stats(o, [])
    with pytest.raises(ValueError, match="not in DataFrame"):
        column_stats(o, ["no_such_col"])
    with pytest.raises(ValueError, match="at least one column"):
        approx_ndv_accuracy(o, [])


def test_weighted_sample_extreme_rates(spark):
    """rate 0 keeps nothing; rate 1 keeps everything (u is in [0,1))."""
    from hdp2_5_hive2_spark.llm.curation import weighted_sample

    d = load_tables(spark, SF_CORRECT)["documents"]
    n = d.count()
    assert weighted_sample(d, F.lit(0.0)).count() == 0
    assert weighted_sample(d, F.lit(1.0)).count() == n


def test_quantize_zero_vector_scale_is_one(spark):
    from hdp2_5_hive2_spark.llm.similarity import quantize_int8_summary

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [2.0, -4.0])], "vec_id bigint, embedding array<float>"
    )
    rows = {r.vec_id: r for r in quantize_int8_summary(df).collect()}
    assert rows[1].scale == 1.0 and rows[1].qsum == 0
    assert rows[2].max_abs == 4.0 and rows[2].qmin == -127


def test_bm25_dedupes_repeated_terms(spark):
    """A bag-of-words query with a repeated token must behave as if the
    token appeared once; arbitrary term strings (backticks, case-only
    variants, output-column collisions) must resolve because per-term slots
    are positional, never term-named columns."""
    from hdp2_5_hive2_spark.llm.retrieval import bm25_rank

    d = load_tables(spark, SF_CORRECT)["documents"]
    a = {r.doc_id: r.score for r in bm25_rank(d, ["spark", "spark"], topk=5).collect()}
    b = {r.doc_id: r.score for r in bm25_rank(d, ["spark"], topk=5).collect()}
    assert a == b
    # formerly-hazardous shapes: all must analyze and run
    bm25_rank(d, ["sp`ark"], topk=3).collect()
    bm25_rank(d, ["Spark", "spark"], topk=3).collect()  # case-only pair
    bm25_rank(d, ["score", "rank"], topk=3).collect()  # output-name collision


def test_column_stats_dedupes_columns(spark):
    from hdp2_5_hive2_spark.stats import column_stats

    o = load_tables(spark, SF_CORRECT)["orders"]
    rows = column_stats(o, ["o_orderkey", "o_orderkey"]).collect()
    assert len(rows) == 1


def test_weighted_sample_preserves_schema(spark):
    """Output schema == input schema, so sampled/unsampled frames union."""
    from hdp2_5_hive2_spark.llm.curation import weighted_sample

    d = load_tables(spark, SF_CORRECT)["documents"]
    kept = weighted_sample(d, F.lit(0.5))
    assert kept.columns == d.columns
    # a pre-existing 'u' column must survive untouched
    du = d.withColumn("u", F.lit(42))
    kept_u = weighted_sample(du, F.lit(0.5))
    assert kept_u.select(F.min("u"), F.max("u")).first() == (42, 42)


def test_quantize_empty_vector_emits_row(spark):
    from hdp2_5_hive2_spark.llm.similarity import quantize_int8_summary

    df = spark.createDataFrame(
        [(1, []), (2, [2.0, -4.0])], "vec_id bigint, embedding array<float>"
    )
    rows = {r.vec_id: r for r in quantize_int8_summary(df).collect()}
    assert rows[1].scale == 1.0 and rows[1].qsum == 0 and rows[1].max_abs == 0.0


def test_textfile_empty_string_vs_null_distinct(spark):
    """LazySimpleSerDe keeps '' and NULL distinct; the round trip must too
    (Spark's csv READER conflates them, so read_textfile is split-based)."""
    from hdp2_5_hive2_spark.storage import read_textfile, write_textfile

    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x")], "k int, s string"
    )
    path = "/tmp/hdp2_5_hive2_spark_io/test_textfile_empty_null"
    write_textfile(df, path)
    back = {r.k: r.s for r in read_textfile(spark, path, "k int, s string").collect()}
    assert back == {1: "", 2: None, 3: "x"}


def test_drop_partition_escaped_values(spark):
    """Partition values the writer percent-escapes in directory names must
    still be droppable by their RAW value."""
    from hdp2_5_hive2_spark.storage import drop_partition, write_partitioned

    df = spark.createDataFrame(
        [(1, "a/b"), (2, "plain")], "v int, p string"
    )
    path = "/tmp/hdp2_5_hive2_spark_io/test_drop_part_escaped"
    write_partitioned(df, path, partition_by=["p"], dynamic=False)
    assert drop_partition(spark, path, "p", "a/b") is True
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(2, "plain")]


def test_bm25_id_col_term_ok_but_slot_shaped_id_rejected(spark):
    from hdp2_5_hive2_spark.llm.retrieval import bm25_rank

    d = load_tables(spark, SF_CORRECT)["documents"]
    # a query term equal to the id column is fine now (terms are values,
    # not column names) ...
    bm25_rank(d, ["doc_id"], topk=3).collect()
    # ... but an id column named like a positional slot cannot be
    bad = d.withColumnRenamed("doc_id", "_t0")
    with pytest.raises(ValueError, match="positional"):
        bm25_rank(bad, ["spark"], id_col="_t0")


def test_column_stats_all_null_and_complex_columns(spark):
    """An all-NULL column keeps its stats row with ndv = 0 (countDistinct
    semantics), and complex-typed columns count distinct NATIVE values (the
    plain string cast is not injective for arrays: ['a, b'] vs ['a','b'])."""
    from hdp2_5_hive2_spark.stats import approx_ndv_accuracy, column_stats

    df = spark.createDataFrame(
        [(1, None, ["a, b"]), (2, None, ["a", "b"])],
        "k int, dead string, arr array<string>",
    )
    rows = {r.column_name: r for r in column_stats(df, ["k", "dead", "arr"]).collect()}
    assert rows["dead"].ndv == 0 and rows["dead"].n_nulls == 2
    assert rows["arr"].ndv == 2, "array values must compare natively, not as strings"
    acc = {r.column_name: r for r in approx_ndv_accuracy(df, ["k", "dead"]).collect()}
    assert acc["dead"].exact_ndv == 0 and bool(acc["dead"].sketch_ok)


def test_brute_force_topk_enforces_query_cap(spark):
    """The broadcast-small contract is enforced, not advisory: a query set
    above max_queries raises with a pointer to the distributed ANN paths
    instead of collecting it to the driver (VERDICT r4 #6)."""
    from hdp2_5_hive2_spark.llm.similarity import brute_force_topk

    emb = load_tables(spark, SF_CORRECT)["embeddings"]
    with pytest.raises(ValueError, match="max_queries"):
        brute_force_topk(emb, emb, k=2, max_queries=3)
    # at or under the cap the exact path still runs
    small = emb.limit(2)
    assert brute_force_topk(emb.limit(10), small, k=2, max_queries=2).count() == 4


def test_pq_adc_topk_enforces_query_cap(spark):
    """pq_adc_topk has the same broadcast-small contract as its siblings
    (VERDICT r7 #2): the query LUT collect is capped, and the scored frame
    is queries x corpus sized, so an oversized query frame must raise
    before either materializes."""
    from hdp2_5_hive2_spark.llm.similarity import pq_adc_topk

    emb = load_tables(spark, SF_CORRECT)["embeddings"]
    with pytest.raises(ValueError, match="max_queries"):
        pq_adc_topk(emb, emb, k=2, n_sub=8, n_cent=4, max_queries=3)
    # at or under the cap the ADC path still serves
    got = pq_adc_topk(emb, emb.limit(2), k=2, n_sub=8, n_cent=4, max_queries=2)
    assert got.count() == 4


@pytest.mark.parametrize(
    "entry,bound",
    [
        ("collect_query_block", "max_queries"),
        ("hard_negatives", "max_anchors"),
        ("maxsim_topk", "max_queries"),
        ("quantized_dot_topk", "max_queries"),
    ],
)
def test_bounded_collect_enforces_cap_in_one_job(spark, entry, bound):
    """Every broadcast-small collect goes through similarity.bounded_collect:
    a block above the cap raises, naming the entry point and its bound, after
    ONE limit(max+1) job (no separate count); a block at the cap still runs."""
    from hdp2_5_hive2_spark.llm import similarity

    fn = getattr(similarity, entry)

    def run(corpus, block):
        if entry == "collect_query_block":
            return fn(block, **{bound: 3})
        return fn(corpus, block, k=2, **{bound: 3})

    emb = load_tables(spark, SF_CORRECT)["embeddings"]
    sc = spark.sparkContext
    group = f"bounded-collect-{entry}"
    try:
        sc.setJobGroup(group, group)
        with pytest.raises(ValueError, match=f"{entry}: more than {bound}=3 rows"):
            run(emb, emb)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == 1, jobs
    # at the cap the entry point still serves every row of the block
    out = run(emb.limit(50), emb.limit(3))
    rows = out if isinstance(out, list) else out.collect()
    assert len({r[0] for r in rows}) == 3
