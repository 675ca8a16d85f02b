"""The scaled measurement fixture's replica suffix keeps every document's
whitespace-token count (a separator-join once fused each document into a
single token)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdp2_5_hive2_spark.catalog import load_tables
from hdp2_5_hive2_spark.llm.text import token_count
from tests.conftest import SF_CORRECT
from tools.gen_scale_fixture import suffix_tokens


def test_suffix_tokens_keeps_spacing_and_marks_every_token():
    assert suffix_tokens("hello world", "-k0") == "hello-k0 world-k0"
    assert suffix_tokens("  a\tb\n\nc  ", "-k3") == "  a-k3\tb-k3\n\nc-k3  "
    # Java's \s is ASCII-only: a no-break space stays inside the token
    assert suffix_tokens("a\u00a0b c", "-k1") == "a\u00a0b-k1 c-k1"
    assert suffix_tokens("", "-k0") == ""
    assert suffix_tokens(None, "-k0") is None


def test_per_document_token_count_survives(spark):
    docs = load_tables(spark, SF_CORRECT)["documents"].select("doc_id", "text").collect()
    rows = [(r.doc_id, r.text, suffix_tokens(r.text, "-k7")) for r in docs]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, scaled string")
    bad = (
        df.where(~token_count("text").eqNullSafe(token_count("scaled")))
        .select("doc_id")
        .limit(5)
        .collect()
    )
    assert not bad, f"token counts changed for {bad}"
    assert df.where(F.size(F.split(F.trim("text"), r"\s+")) > 1).count() > 0
