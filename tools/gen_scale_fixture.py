"""Generate a MEASUREMENT-ONLY scaled fixture for the 8-vs-32-core scaling
probe (VERDICT r13 #4: at sf0.1 every bench query is scheduling-dominated
and the low/high-core ratio reads ~1; a real parallelism signal needs more
rows). NOT test data: correctness stays pinned to the driver's read-only
test-data SFs — this fixture exists only to read core-count scaling
ratios on the heavy operators.

Layout: documents.parquet is sf0.1's 5000 documents replicated REP times;
replica k offsets doc_id by k*20_000_000 (clear of every planted +1M..+4M
id range the queries add, and far inside exact_substring_spans' 2^31
packing guard) and suffixes every token with "-k<k>" so replicas share no
token, shingle, or length-60 window — within-replica duplicate structure
is preserved exactly, cross-replica duplication is zero, so total dedup
work scales LINEARLY with REP (20 exact copies would instead blow up
pair counts quadratically and measure a different algorithm).
embeddings.parquet is REP*2000 fresh deterministic unit-ish vectors
(seeded standard normals; random 64-d directions never reach the 0.99
near-dup threshold, so pair work stays planted-only like sf0.1). All
other tables symlink to sf0.1 (the heavy queries never read them, but
catalog.load_tables resolves the full table list).

Usage: python tools/gen_scale_fixture.py [out_dir] [rep]
       (defaults: /tmp/scale20, 20)
"""

from __future__ import annotations

import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

# One whitespace token as the engine's tokenizer sees it: Java's \s is the
# ASCII set, so a non-ASCII space stays inside a token there and here.
_TOKEN = re.compile(r"\S+", re.ASCII)


def suffix_tokens(text: str | None, suf: str) -> str | None:
    """Append ``suf`` to every whitespace token of ``text``, keeping the
    whitespace itself, so the per-document token count is unchanged."""
    if not isinstance(text, str):
        return text
    return _TOKEN.sub(lambda m: m.group(0) + suf, text)


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale20"
    rep = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    os.makedirs(out, exist_ok=True)

    docs = pq.read_table(os.path.join(SRC, "documents.parquet"))
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    srcs = docs.column("source").to_pylist()

    all_ids: list[int] = []
    all_text: list[str] = []
    all_lang: list[str] = []
    all_src: list[str] = []
    all_nch: list[int] = []
    for k in range(rep):
        suf = f"-k{k}"
        for i, t, lg, s in zip(ids, texts, langs, srcs):
            t2 = suffix_tokens(t, suf)
            all_ids.append(k * 20_000_000 + i)
            all_text.append(t2)
            all_lang.append(lg)
            all_src.append(s)
            all_nch.append(len(t2) if isinstance(t2, str) else 0)
    tbl = pa.table(
        {
            "doc_id": pa.array(all_ids, pa.int64()),
            "text": pa.array(all_text, pa.string()),
            "lang": pa.array(all_lang, pa.string()),
            "source": pa.array(all_src, pa.string()),
            "n_chars": pa.array(all_nch, pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(out, "documents.parquet"))

    n_vec = rep * 2000
    rng = np.random.RandomState(42)
    m = rng.randn(n_vec, 64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(
                [row.astype(np.float32) for row in m], pa.list_(pa.float32())
            ),
            "label": pa.array((np.arange(n_vec) % 20).astype(np.int64)),
        }
    )
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))

    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    ):
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dst)
    print(
        f"wrote {out}: documents={tbl.num_rows} rows, embeddings={n_vec} rows, rep={rep}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
