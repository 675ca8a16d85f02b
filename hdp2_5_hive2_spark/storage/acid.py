"""Hive-ACID-shaped transactional storage: delta directories, ROW__ID
merge-on-read, snapshot (write-id) reads, and compaction — in parquet.

Reference parity (all in /root/reference): Hive 2.1 rewrites UPDATE and
DELETE into inserts against *delta* directories
(parse/UpdateDeleteSemanticAnalyzer.java:52), names them
``delta_{writeid}_{writeid}`` / ``delete_delta_...`` with base
directories produced only by compaction (ql/io/AcidUtils.java:53),
stamps every row with a ROW__ID struct ``(original txn, bucket, row
id)`` (ql/io/orc/OrcRecordUpdater.java), merges base+delta−delete at
read time (ql/io/orc/OrcRawRecordMerger.java:50), and runs
minor/major compaction in the background
(ql/txn/compactor/{Initiator,Worker,Cleaner}.java). This module keeps
that exact directory/ROW__ID algebra while replacing the ORC ACID
machinery with plain parquet + Catalyst:

- ``acid_insert`` appends a ``delta_N_N`` directory whose rows carry
  ROW__ID = (write_id, bucket=spark partition id, row_id=per-bucket
  ordinal) — written executor-side, no driver collect.
- ``acid_delete`` / ``acid_update`` write ``delete_delta_N_N`` holding
  ONLY the victim ROW__IDs (updates also write the re-inserted rows as
  a new delta — Hive's exact update-as-delete+insert rewrite).
- ``acid_read`` is the merge-on-read: base and deltas with write_id ≤
  the snapshot bound, anti-joined against the delete-delta ROW__IDs.
  Passing ``up_to_write_id`` gives snapshot-isolation time travel —
  the reader sees exactly the committed state as of that write, the
  same contract AcidUtils' ValidTxnList enforces.
- ``acid_compact`` is the compactor: ``major`` folds the surviving
  rows into ``base_N`` and removes history (Cleaner); ``minor`` merges
  each kind's ``delta_x_x..delta_y_y`` into one ``delta_x_y`` without
  resolving deletes — the read-side merge fan-in shrinks to at most
  base + delta + delete_delta, and (as in Hive) time travel inside a
  merged range is no longer reconstructable.

Scale notes (100 TB): the merge is one parquet scan of every live
(base/delta) directory plus one scan of every delete delta, and building
it fires no Spark job. The live schema is the JSON that Spark writes into
each parquet footer, read on the driver from one file per directory (the
way Hive takes it from the metastore, not from the data); a directory
whose columns or types differ fails loudly by name. Delete deltas hold 3
longs per victim, so the anti-join build side is small → broadcast
(plan-pinned in tests), and it needs no dedup: the anti-join ignores
duplicate keys, and each delete reads the merged snapshot, so a ROW__ID
is never deleted twice. There is no shuffle beyond that broadcast.
Write-id allocation is a directory listing (max+1) — single-writer
semantics, as Hive's metastore txn manager would otherwise arbitrate;
a real deployment gates writers through a lock service exactly like
TxnHandler.java does. Compaction preserves bucket numbers so bucketed
join co-location survives, mirroring the reference compactor.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

__all__ = [
    "acid_insert",
    "acid_delete",
    "acid_update",
    "acid_read",
    "acid_compact",
    "acid_write_ids",
]

_ROWID = ["_orig_write_id", "_bucket", "_row_id"]


def _dirs(path: str) -> list[tuple[str, int, int, str]]:
    """(kind, min_write_id, max_write_id, dirname) for every txn dir."""
    out = []
    if not os.path.isdir(path):
        return out
    pat = re.compile(r"^(base)_(\d+)$|^(delta|delete_delta)_(\d+)_(\d+)$")
    for name in sorted(os.listdir(path)):
        m = pat.match(name)
        if not m:
            continue
        if m.group(1):
            out.append(("base", 0, int(m.group(2)), name))
        else:
            out.append((m.group(3), int(m.group(4)), int(m.group(5)), name))
    return out


def acid_write_ids(path: str) -> list[int]:
    """Committed write ids visible in the table directory."""
    return sorted({mx for _, _, mx, _ in _dirs(path)})


def _next_write_id(path: str) -> int:
    ids = acid_write_ids(path)
    return (ids[-1] + 1) if ids else 1


def _stamp_row_ids(df: DataFrame, write_id: int) -> DataFrame:
    """ROW__ID per OrcRecordUpdater: (originating write id, bucket, row
    ordinal within bucket). monotonically_increasing_id() is documented
    as partitionId·2^33 + per-partition counter, so bucket and ordinal
    decompose from it MAP-SIDE — no shuffle to stamp identities, same
    as Hive's per-bucket-file writers. ROW__ID names are reserved, as
    Hive reserves its virtual columns."""
    clash = [c for c in df.columns if c in _ROWID]
    if clash:
        raise ValueError(f"ACID tables reserve the ROW__ID columns {clash}")
    mid = F.monotonically_increasing_id()
    return (
        df.withColumn("_bucket", F.shiftright(mid, 33).cast("long"))
        .withColumn("_row_id", mid.bitwiseAND((1 << 33) - 1).cast("long"))
        .withColumn("_orig_write_id", F.lit(write_id).cast("long"))
    )


def acid_insert(df: DataFrame, path: str) -> int:
    """INSERT → a new ``delta_N_N`` directory; returns the write id."""
    wid = _next_write_id(path)
    os.makedirs(path, exist_ok=True)
    _stamp_row_ids(df, wid).write.mode("errorifexists").parquet(
        os.path.join(path, f"delta_{wid:07d}_{wid:07d}")
    )
    return wid


# Spark writes its own schema, as JSON, into every parquet footer under this
# key; schema inference reads the same footer, but through a Spark job.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_ROWID_SCHEMA = StructType([StructField(c, LongType()) for c in _ROWID])


def _footer_schema(spark: SparkSession, directory: str) -> StructType | None:
    """The schema of one directory, read on the driver from the footer of
    its first data file; None when it holds no data file. A footer that
    Spark did not write falls back to Spark's inference (one job)."""
    files = sorted(
        f for f in os.listdir(directory)
        if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(directory, f))
    )
    if not files:
        return None
    meta = pq.read_metadata(os.path.join(directory, files[0])).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        return spark.read.parquet(directory).schema
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def _shape(schema: StructType) -> list[tuple[str, str]]:
    """Column names and types, ignoring order and nullability — what a
    by-name parquet read needs to agree on."""
    return sorted((f.name, f.dataType.simpleString()) for f in schema)


def _scan(spark: SparkSession, path: str, kind: str, names: list[str]) -> DataFrame:
    """ONE parquet relation over directories of one kind, built with no job.
    Delete deltas have the fixed ROW__ID schema; base and delta directories
    take the first directory's footer schema, and every other directory
    must carry the same columns and types, so the one relation cannot drop
    or null-fill a column silently."""
    dirs = [os.path.join(path, name) for name in names]
    if kind == "delete_delta":
        return spark.read.schema(_ROWID_SCHEMA).parquet(*dirs)
    schema = None
    for d in dirs:
        found = _footer_schema(spark, d)
        if found is None:
            continue
        if schema is None:
            schema = found
        elif _shape(found) != _shape(schema):
            raise ValueError(
                f"ACID table {path!r}: directory {os.path.basename(d)!r} has "
                f"schema {found.simpleString()}, not the table's "
                f"{schema.simpleString()}"
            )
    if schema is None:  # no data file at all: Spark's own error
        return spark.read.parquet(*dirs)
    nullable = StructType([StructField(f.name, f.dataType, True, f.metadata) for f in schema])
    return spark.read.schema(nullable).parquet(*dirs)


def _read_with_rowids(
    spark: SparkSession, path: str, up_to_write_id: int | None = None
) -> DataFrame:
    """The one merge-on-read implementation: base+deltas ≤ bound minus
    delete-delta ROW__IDs — one scan per directory kind, then a broadcast
    anti-join (3 longs per victim). Victims need no dedup: the anti-join
    ignores duplicates on its build side, and each delete reads the merged
    snapshot, so no ROW__ID is deleted twice."""
    bound = up_to_write_id if up_to_write_id is not None else float("inf")
    dirs = _dirs(path)
    live, dead = [], []
    for kind, _, mx, name in dirs:
        if mx <= bound:
            (dead if kind == "delete_delta" else live).append(name)
    if not live:
        if dirs:
            raise ValueError(
                f"ACID table {path!r}: no snapshot at write id "
                f"{up_to_write_id} — history before the first remaining "
                "base/delta was cleaned by compaction"
            )
        raise ValueError(f"ACID table {path!r} has no committed data")
    rows = _scan(spark, path, "delta", live)
    if dead:
        victims = _scan(spark, path, "delete_delta", dead)
        rows = rows.join(F.broadcast(victims), _ROWID, "left_anti")
    return rows


def acid_read(
    spark: SparkSession, path: str, up_to_write_id: int | None = None
) -> DataFrame:
    """Merge-on-read snapshot; returns user columns only."""
    return _read_with_rowids(spark, path, up_to_write_id).drop(*_ROWID)


def acid_delete(spark: SparkSession, path: str, predicate) -> int:
    """DELETE WHERE → a ``delete_delta_N_N`` of victim ROW__IDs only
    (UpdateDeleteSemanticAnalyzer's delete branch)."""
    wid = _next_write_id(path)
    victims = _read_with_rowids(spark, path).where(predicate).select(_ROWID)
    victims.write.mode("errorifexists").parquet(
        os.path.join(path, f"delete_delta_{wid:07d}_{wid:07d}")
    )
    return wid


def acid_update(spark: SparkSession, path: str, predicate, set_map: dict) -> int:
    """UPDATE WHERE → Hive's delete+insert rewrite in ONE write id: the
    victims' ROW__IDs land in ``delete_delta_N_N`` and their re-stamped
    new versions in ``delta_N_N``."""
    wid = _next_write_id(path)
    snap = _read_with_rowids(spark, path).where(predicate)
    # Hive's UPDATE→INSERT rewrite: each SET value is cast to its column's
    # type, so every delta keeps the table schema; an unknown column fails
    # here, before anything is written
    types = {f.name: f.dataType for f in snap.schema if f.name not in _ROWID}
    unknown = sorted(set(set_map) - set(types))
    if unknown:
        raise ValueError(f"ACID table {path!r}: UPDATE SET names no column {unknown}")
    # one pass is read twice (ROW__IDs + new versions); keep it cheap.
    # CORRECTNESS, not optimization — deliberately NOT plan_checkpoint /
    # SPARK_GRAFT_LINEAGE-toggleable: the second read happens AFTER the
    # delete_delta write below, and an un-materialized re-scan would see
    # this statement's own delete.
    snap = snap.localCheckpoint(eager=False)
    snap.select(_ROWID).write.mode("errorifexists").parquet(
        os.path.join(path, f"delete_delta_{wid:07d}_{wid:07d}")
    )
    # withColumns = ONE projection: every SET expression evaluates
    # against the OLD row (SQL UPDATE's simultaneous assignment), so
    # {"a": lit(0), "b": col("a")} writes b = old a regardless of order
    fresh = snap.drop(*_ROWID).withColumns(
        {c: v.cast(types[c]) for c, v in set_map.items()}
    )
    _stamp_row_ids(fresh, wid).write.mode("errorifexists").parquet(
        os.path.join(path, f"delta_{wid:07d}_{wid:07d}")
    )
    return wid


def acid_compact(spark: SparkSession, path: str, major: bool = True) -> int:
    """Compactor: ``major`` resolves deletes and rewrites the survivors
    (original ROW__IDs preserved — compaction moves rows, it does not
    re-identify them) into ``base_N``, then cleans history; ``minor``
    coalesces each directory-kind's files without resolving deletes."""
    ids = acid_write_ids(path)
    if not ids:
        raise ValueError(f"ACID table {path!r} has no committed data")
    top = ids[-1]
    if major:
        survivors = _read_with_rowids(spark, path, top)
        tmp = os.path.join(path, f"_compact_tmp_{top:07d}")
        survivors.repartition("_bucket").write.mode("overwrite").parquet(tmp)
        for _, _, _, name in _dirs(path):
            shutil.rmtree(os.path.join(path, name))
        os.rename(tmp, os.path.join(path, f"base_{top:07d}"))
        return top
    # minor: merge each kind's delta_x_x..delta_y_y into ONE delta_x_y
    # (Hive's Worker without delete resolution) — the read-side merge
    # fan-in shrinks to at most base + delta + delete_delta. As in Hive,
    # time travel INSIDE a merged range is no longer reconstructable.
    for kind in ("delta", "delete_delta"):
        group = [d for d in _dirs(path) if d[0] == kind]
        if len(group) < 2:
            continue
        lo = min(mn for _, mn, _, _ in group)
        hi = max(mx for _, _, mx, _ in group)
        merged = _scan(spark, path, kind, [name for _, _, _, name in group])
        tmp = os.path.join(path, f"_compact_tmp_{kind}_{hi:07d}")
        merged.write.mode("overwrite").parquet(tmp)
        for _, _, _, name in group:
            shutil.rmtree(os.path.join(path, name))
        os.rename(tmp, os.path.join(path, f"{kind}_{lo:07d}_{hi:07d}"))
    return top
