"""The three workloads: their ops, and the values each op must reproduce.

An op is one call into the engine's public functions, split into a build
phase (construct the query or the write) and an action phase (run it). A
query op's action is an order-insensitive checksum over every output
column, so Catalyst cannot prune a column away and the op is verified in
the same job that times it. An ACID or shard op's value is read back from
the files it wrote, after its timing ends.
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pyarrow.parquet as pq

SQL_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_volume_customer",
    "groupby_cube",
    "join_left_anti",
    "window_topn_per_group",
    "events_sessionize",
    "matchpath_price_runs",
)
# Each curation op costs 1-2 s at any scale, most of it fixed per-job
# overhead, and a run has room for about ten seconds of passes (README.md).
# llm_minhash_dedup, llm_setsim_join, llm_decontaminate and
# llm_fingerprint_overlap are left out for that; the layers they exercise are
# covered: build-phase jobs and connected components by
# llm_semantic_dedup_lsh, Lloyd driver syncs by llm_kmeans_clusters, a build
# with no jobs by llm_exact_substring_dedup.
LLM_DEDUP = (
    "llm_semantic_dedup_lsh",
    "llm_kmeans_clusters",
    "llm_exact_substring_dedup",
)
ACID_INGEST = (
    "acid_insert",
    "acid_update",
    "acid_read_deltas",
    "acid_delete",
    "acid_compact_minor",
    "acid_read_minor",
    "acid_compact_major",
    "acid_read_major",
    "shards_write",
    "shards_read",
)
WORKLOADS = {"sql_mix": SQL_MIX, "llm_dedup": LLM_DEDUP, "acid_ingest": ACID_INGEST}
# catalog tables each workload reads; set-up registers these
TABLES = {
    "sql_mix": ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"),
    "llm_dedup": ("documents", "embeddings"),
    "acid_ingest": ("orders", "documents"),
}

# acid_ingest batch: the o_orderkey residue class mod BATCH_MOD chosen by the
# seed, re-keyed by KEY_SHIFT so it never collides with a live key.
BATCH_MOD = 10
KEY_SHIFT = 1 << 40
SHARD_FILES = 2
_TXN_DIR = re.compile(r"^(base|delta|delete_delta)_(\d+)(?:_(\d+))?$")


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    # untimed read-back of what the action wrote; its result is the op's value
    observe: Callable[[Any], Any] | None = None
    # value the op must produce, when it is known before the run
    expected: tuple | None = None


def checksum(df) -> tuple[int, int, int]:
    """(rows, sum of low 32 hash bits, sum of high 32 hash bits) of xxhash64
    over every column in name order; two 32-bit sums cannot overflow."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in sorted(df.columns)])
    row = df.agg(
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(0xFFFFFFFF)),
        F.sum(F.shiftrightunsigned(h, 32)),
    ).first()
    return tuple(int(v or 0) for v in row)


def rows_digest(rows, columns) -> str:
    """Digest of a result as the oracle comparison sees it: column names and
    the order-insensitive normalized row multiset (tests/oracle.py)."""
    from tests.oracle import rowset

    body = repr((sorted(columns), len(rows), rowset([tuple(r) for r in rows], list(columns))))
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_digests(data_dir: str, names) -> dict[str, str]:
    """DuckDB oracle result digest of every named registry query."""
    from hdp2_5_hive2_spark.queries import REGISTRY
    from tests.oracle import duckdb_conn

    con = duckdb_conn(data_dir)
    try:
        con.execute("SET threads = 2")
        out = {}
        for name in names:
            res = con.execute(REGISTRY[name].oracle)
            out[name] = rows_digest(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


def query_ops(spark, data_dir: str, names) -> list[Op]:
    from hdp2_5_hive2_spark.queries import REGISTRY

    return [Op(n, lambda fn=REGISTRY[n].fn: fn(spark, data_dir), checksum) for n in names]


# ---------------------------------------------------------------- acid_ingest


def txn_dirs(path: str) -> list[tuple[str, int, str]]:
    """(kind, max write id, name) of every ACID directory under ``path``."""
    out = []
    for name in os.listdir(path):
        m = _TXN_DIR.match(name)
        if m:
            out.append((m.group(1), int(m.group(3) or m.group(2)), name))
    return sorted(out, key=lambda d: (d[1], d[0]))


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


class AcidCycle:
    """One steady-state write cycle on an ACID copy of ``orders``: the live
    set is back to its starting rows after every cycle, so bytes written and
    bytes stored level off. Also records the storage-layer counters."""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        import duckdb

        self.spark = spark
        self.table = os.path.join(work_dir, "orders_acid")
        self.shards = os.path.join(work_dir, "shards")
        self.residue = seed % BATCH_MOD
        docs = f"read_parquet('{data_dir}/documents.parquet')"
        agg = (
            "SELECT count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)), "
            f"sum(o_orderkey) FROM read_parquet('{data_dir}/orders.parquet')"
        )
        con = duckdb.connect()
        try:
            self.slice_n = con.execute(f"SELECT count(*) FROM {docs}").fetchone()[0] // 4
            self.slice_lo = (seed // BATCH_MOD) % 4 * self.slice_n
            self.base = tuple(int(v) for v in con.execute(agg).fetchone())
            n, cents, keys = (
                int(v) for v in con.execute(
                    f"{agg} WHERE o_orderkey % {BATCH_MOD} = {self.residue}"
                ).fetchone()
            )
            self.shard_expect = tuple(int(v) for v in con.execute(
                f"SELECT count(*), sum(doc_id), sum(length(text)) FROM {docs} WHERE doc_id >= "
                f"{self.slice_lo} AND doc_id < {self.slice_lo + self.slice_n}"
            ).fetchone())
        finally:
            con.close()
        self.batch_rows = n
        # insert + update (price + 1.00) of the re-keyed batch
        self.with_batch = (
            self.base[0] + n,
            self.base[1] + cents + 100 * n,
            self.base[2] + keys + n * KEY_SHIFT,
        )
        self._sizes: dict[str, int] = {}
        self._steps: list[tuple[str, int, int, int]] = []  # op, dirs, bytes, new bytes
        self._jsonl_bytes = 0

    def create(self, orders) -> None:
        """The ACID copy the cycles run on: one insert, then a major compaction."""
        from hdp2_5_hive2_spark.storage.acid import acid_compact, acid_insert

        acid_insert(orders, self.table)
        acid_compact(self.spark, self.table, major=True)
        self._sizes = self._dir_sizes()

    def ops(self, orders, documents) -> list[Op]:
        from pyspark.sql import functions as F

        from hdp2_5_hive2_spark.llm.corpus_shards import read_jsonl_shards, write_jsonl_shards
        from hdp2_5_hive2_spark.storage import acid

        spark, table, key = self.spark, self.table, F.col("o_orderkey")
        in_batch = key >= KEY_SHIFT
        b = self.batch_rows
        lo, hi = self.slice_lo, self.slice_lo + self.slice_n

        def read_agg(df):
            return tuple(int(v or 0) for v in df.agg(
                F.count(F.lit(1)),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                F.sum("o_orderkey"),
            ).first())

        def shards_agg(df):
            line = F.col("line")
            return tuple(int(v or 0) for v in df.agg(
                F.count(F.lit(1)),
                F.sum(F.get_json_object(line, "$.doc_id").cast("long")),
                F.sum(F.length(F.get_json_object(line, "$.text"))),
                F.sum(F.length(line) + 1),
            ).first())

        def shards_seen(value):
            self._jsonl_bytes = value[3]
            return value[:3]

        def shard_paths():
            return sorted(os.path.join(self.shards, f) for f in os.listdir(self.shards))

        return [
            Op("acid_insert",
               lambda: orders.where(key % BATCH_MOD == self.residue)
               .withColumn("o_orderkey", key + KEY_SHIFT),
               lambda df: acid.acid_insert(df, table),
               lambda _: (self._newest_rows("delta"),), (b,)),
            Op("acid_update",
               lambda: {"o_totalprice": F.col("o_totalprice") + 1.0,
                        "o_orderstatus": F.lit("U")},
               lambda sets: acid.acid_update(spark, table, in_batch, sets),
               lambda _: (self._newest_rows("delete_delta"), self._newest_rows("delta")),
               (b, b)),
            Op("acid_read_deltas", lambda: acid.acid_read(spark, table), read_agg,
               expected=self.with_batch),
            Op("acid_delete", lambda: in_batch,
               lambda pred: acid.acid_delete(spark, table, pred),
               lambda _: (self._newest_rows("delete_delta"),), (b,)),
            Op("acid_compact_minor", lambda: None,
               lambda _: acid.acid_compact(spark, table, major=False),
               lambda _: (len(txn_dirs(table)),), (3,)),
            Op("acid_read_minor", lambda: acid.acid_read(spark, table), read_agg,
               expected=self.base),
            Op("acid_compact_major", lambda: None,
               lambda _: acid.acid_compact(spark, table, major=True),
               lambda _: (len(txn_dirs(table)), parquet_rows(self._newest("base"))),
               (1, self.base[0])),
            Op("acid_read_major", lambda: acid.acid_read(spark, table), read_agg,
               expected=self.base),
            Op("shards_write",
               lambda: documents.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
               .repartition(SHARD_FILES, "doc_id"),
               lambda df: write_jsonl_shards(df, self.shards, codec="zstd"),
               lambda _: (len(shard_paths()),), (SHARD_FILES,)),
            Op("shards_read", lambda: read_jsonl_shards(spark, shard_paths()), shards_agg,
               shards_seen, self.shard_expect),
        ]

    def _dir_sizes(self) -> dict[str, int]:
        return {name: dir_bytes(os.path.join(self.table, name)) for _, _, name in txn_dirs(self.table)}

    def _newest(self, kind: str) -> str:
        name = max((d for d in txn_dirs(self.table) if d[0] == kind), key=lambda d: d[1])[2]
        return os.path.join(self.table, name)

    def _newest_rows(self, kind: str) -> int:
        return parquet_rows(self._newest(kind))

    def after_op(self, name: str) -> None:
        """Record the table's directories and bytes after a step, and the bytes
        of the directories the step created."""
        sizes = self._dir_sizes()
        new = sum(v for k, v in sizes.items() if k not in self._sizes)
        self._steps.append((name, len(sizes), sum(sizes.values()), new))
        self._sizes = sizes

    def end_cycle(self) -> dict[str, float] | None:
        """Storage counters of the cycle just finished (None if a step failed);
        resets for the next."""
        steps = {name: (dirs, size, new) for name, dirs, size, new in self._steps}
        if set(steps) != set(ACID_INGEST):
            self._steps = []
            return None
        base_bytes = steps["acid_compact_major"][1]
        out = {
            # bytes held at the fullest point over the bytes of the same live
            # rows written compacted
            "space_amp": max(size for _, _, size, _ in self._steps) / base_bytes,
            # directories each read merges: the state the step before it left
            "acid.read_fanin": statistics.fmean(
                steps[before][0]
                for before in ("acid_update", "acid_compact_minor", "acid_compact_major")
            ),
            "acid.write_amp": sum(new for *_, new in self._steps) / steps["acid_insert"][2],
            "shards.bytes_per_input_byte": dir_bytes(self.shards) / self._jsonl_bytes,
        }
        self._steps = []
        return out
