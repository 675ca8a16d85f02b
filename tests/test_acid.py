"""Hive-ACID-shaped storage (storage/acid.py): delta/delete-delta
directory algebra, ROW__ID identity, update-as-delete+insert, write-id
snapshot isolation (time travel), major/minor compaction, the
broadcast-anti-join read plan, and the one-scan merge with its schema
guard."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hdp2_5_hive2_spark.storage.acid import (
    acid_compact,
    acid_delete,
    acid_insert,
    acid_read,
    acid_update,
    acid_write_ids,
)


def _seed(spark, root, n=100):
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(n)], "k int, s string, v int"
    ).repartition(3)
    return acid_insert(df, root)


def test_full_lifecycle(spark, tmp_path):
    root = str(tmp_path / "t")
    w1 = _seed(spark, root)
    w2 = acid_insert(
        spark.createDataFrame(
            [(100 + i, f"n{i}", 0) for i in range(10)], "k int, s string, v int"
        ),
        root,
    )
    assert acid_write_ids(root) == [w1, w2] == [1, 2]
    assert acid_read(spark, root, up_to_write_id=w1).count() == 100
    acid_delete(spark, root, F.col("k") % 10 == 0)  # 11 victims (0..100)
    acid_update(spark, root, F.col("k") < 5, {"v": F.lit(-1)})  # 1..4 live
    cur = acid_read(spark, root)
    assert cur.count() == 110 - 11
    assert cur.where(F.col("v") == -1).count() == 4
    assert cur.where(F.col("k") == 0).count() == 0  # deleted, not updated
    # snapshot isolation: earlier write ids see pre-delete/update state
    assert acid_read(spark, root, w2).count() == 110
    assert acid_read(spark, root, w2).where(F.col("v") == -1).count() == 0
    # directory grammar matches AcidUtils naming
    names = sorted(os.listdir(root))
    assert "delta_0000001_0000001" in names
    assert "delete_delta_0000003_0000003" in names
    assert "delete_delta_0000004_0000004" in names and "delta_0000004_0000004" in names


def test_major_compaction_preserves_snapshot(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    acid_delete(spark, root, F.col("k") >= 90)
    acid_update(spark, root, F.col("k") == 1, {"s": F.lit("patched")})
    before = sorted(map(tuple, acid_read(spark, root).collect()))
    top = acid_compact(spark, root, major=True)
    names = sorted(os.listdir(root))
    assert names == [f"base_{top:07d}"]
    after = sorted(map(tuple, acid_read(spark, root).collect()))
    assert before == after
    # ROW__IDs survive compaction: a later delete still resolves
    acid_delete(spark, root, F.col("k") == 1)
    assert acid_read(spark, root).where(F.col("k") == 1).count() == 0


def test_minor_compaction_merges_deltas(spark, tmp_path):
    root = str(tmp_path / "t")
    w1 = _seed(spark, root)
    acid_insert(
        spark.createDataFrame([(500, "x", 1)], "k int, s string, v int"), root
    )
    acid_insert(
        spark.createDataFrame([(501, "y", 2)], "k int, s string, v int"), root
    )
    acid_delete(spark, root, F.col("k") < 10)
    before = sorted(map(tuple, acid_read(spark, root).collect()))
    acid_compact(spark, root, major=False)
    # three delta_N_N dirs merged into ONE delta_1_3; deletes unresolved
    names = sorted(os.listdir(root))
    assert names == ["delete_delta_0000004_0000004", "delta_0000001_0000003"]
    assert sorted(map(tuple, acid_read(spark, root).collect())) == before
    # time travel INSIDE the merged range is gone (Hive semantics): the
    # merged delta's max write id exceeds the bound, so w1 is unreachable
    with pytest.raises(ValueError, match="history"):
        acid_read(spark, root, w1).count()


def test_update_simultaneous_assignment(spark, tmp_path):
    """SET a = 0, b = a must write b = OLD a (one projection), not the
    freshly assigned a — and must not depend on dict order."""
    root = str(tmp_path / "t")
    _seed(spark, root, n=5)
    acid_update(
        spark, root, F.col("k") == 2, {"v": F.lit(0), "s": F.col("v").cast("string")}
    )
    row = acid_read(spark, root).where("k = 2").head()
    assert row["v"] == 0 and row["s"] == "20"  # old v was 20


def test_rowid_column_collision_raises(spark, tmp_path):
    df = spark.createDataFrame([(1, 2)], "k int, _bucket int")
    with pytest.raises(ValueError, match="reserve"):
        acid_insert(df, str(tmp_path / "t"))


def test_update_is_delete_plus_insert_one_write_id(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root, n=20)
    wid = acid_update(spark, root, F.col("k") == 3, {"v": F.lit(999)})
    names = os.listdir(root)
    assert f"delta_{wid:07d}_{wid:07d}" in names
    assert f"delete_delta_{wid:07d}_{wid:07d}" in names
    cur = acid_read(spark, root)
    assert cur.count() == 20
    assert cur.where("k = 3").select("v").head()[0] == 999


def test_read_plan_broadcasts_delete_deltas(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    acid_delete(spark, root, F.col("k") < 5)
    plan = acid_read(spark, root)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_empty_table_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed data"):
        acid_read(spark, str(tmp_path / "missing"))


def _four_dir_table(spark, root):
    """base, delta, delete_delta, delta — one directory of every kind, and
    two live directories after the base."""
    _seed(spark, root)
    acid_compact(spark, root, major=True)
    acid_insert(spark.createDataFrame([(500, "x", 1)], "k int, s string, v int"), root)
    acid_delete(spark, root, F.col("k") < 5)
    acid_insert(spark.createDataFrame([(501, "y", 2)], "k int, s string, v int"), root)
    assert [n.split("_0")[0] for n in sorted(os.listdir(root))] == [
        "base", "delete_delta", "delta", "delta"
    ]


def _jobs_fired(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_builds_with_no_job_and_scans_each_kind_once(spark, tmp_path):
    """The merge is one live scan over base+deltas and one delete-delta
    scan; the schema comes from a footer (no inference job) and the
    victims are not deduplicated (no aggregate, no shuffle)."""
    root = str(tmp_path / "t")
    _four_dir_table(spark, root)
    df, jobs = _jobs_fired(spark, "acid-read-build", lambda: acid_read(spark, root))
    assert jobs == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2, plan
    assert "InMemoryFileIndex(3 paths)" in plan, plan
    assert "HashAggregate" not in plan and "Exchange hashpartitioning" not in plan, plan
    assert df.count() == 102 - 5


@pytest.mark.parametrize("writer", ["spark", "pyarrow"])
def test_read_rejects_delta_with_other_column_type(spark, tmp_path, writer):
    """A foreign ``delta_N_N`` whose ``v`` is a string, not an int, fails
    loudly by name — whether its footer carries Spark's schema or the
    schema has to be inferred."""
    root = str(tmp_path / "t")
    _seed(spark, root, n=5)
    foreign = os.path.join(root, "delta_0000002_0000002")
    if writer == "spark":
        spark.createDataFrame(
            [(9, "z", "bad", 0, 0, 2)],
            "k int, s string, v string, _bucket long, _row_id long, _orig_write_id long",
        ).write.parquet(foreign)
    else:
        os.makedirs(foreign)
        pq.write_table(
            pa.table({"k": pa.array([9], pa.int32()), "s": ["z"], "v": ["bad"],
                      "_bucket": [0], "_row_id": [0], "_orig_write_id": [2]}),
            os.path.join(foreign, "part-0.parquet"),
        )
    with pytest.raises(ValueError, match="delta_0000002_0000002"):
        acid_read(spark, root)


def test_read_infers_foreign_footer_and_skips_empty_directory(spark, tmp_path):
    """A delta written without Spark's footer schema but with the table's
    types is read through Spark's inference; a live directory with no data
    file takes no part in the schema check."""
    root = str(tmp_path / "t")
    _seed(spark, root, n=5)
    foreign = os.path.join(root, "delta_0000002_0000002")
    os.makedirs(foreign)
    pq.write_table(
        pa.table({"k": pa.array([9], pa.int32()), "s": ["z"], "v": pa.array([90], pa.int32()),
                  "_bucket": [0], "_row_id": [0], "_orig_write_id": [2]}),
        os.path.join(foreign, "part-0.parquet"),
    )
    empty = os.path.join(root, "delta_0000003_0000003")
    os.makedirs(empty)
    open(os.path.join(empty, "_SUCCESS"), "w").close()
    cur = acid_read(spark, root)
    assert cur.schema.simpleString() == "struct<k:int,s:string,v:int>"
    assert sorted(r["k"] for r in cur.collect()) == [0, 1, 2, 3, 4, 9]


def test_update_unknown_set_column_raises_before_writing(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root, n=5)
    names = sorted(os.listdir(root))
    with pytest.raises(ValueError, match="nope"):
        acid_update(spark, root, F.col("k") == 1, {"v": F.lit(0), "nope": F.lit(1)})
    assert sorted(os.listdir(root)) == names
    assert acid_write_ids(root) == [1]


def test_update_casts_set_value_to_column_type(spark, tmp_path):
    """SET v = a bigint on an int column writes an int (Hive's
    UPDATE→INSERT rewrite against the table schema): the read keeps
    ``v int``, and a minor compaction over the deltas still reads them."""
    root = str(tmp_path / "t")
    _seed(spark, root, n=5)
    acid_insert(spark.createDataFrame([(7, "x", 70)], "k int, s string, v int"), root)
    acid_update(spark, root, F.col("k") < 2, {"v": F.lit(-1).cast("long")})
    cur = acid_read(spark, root)
    assert dict(cur.dtypes)["v"] == "int"
    expect = sorted(map(tuple, cur.collect()))
    assert [r[2] for r in expect[:2]] == [-1, -1]
    acid_compact(spark, root, major=False)
    assert dict(acid_read(spark, root).dtypes)["v"] == "int"
    assert sorted(map(tuple, acid_read(spark, root).collect())) == expect
