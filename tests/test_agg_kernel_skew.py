"""r13 payload/agg-state skew fixes are RESULT levers nowhere: the
word_shingles zip_with rebuild, the line_dedup_docs tokenize-once
projection, and the sample_audio_windows md5-state clone must be
value-identical to their pre-fix forms (throughput halves live in
SCALING.md via tools/skew_audit.py kernel_skew / agg_state_skew).
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

from pyspark.sql import functions as F

from acuvate_spark.functions import textual
from acuvate_spark.queries import REGISTRY

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))


def test_word_shingles_matches_python_reference(spark):
    """The chained-zip_with shingles equal the naive python n-gram
    join for random word arrays, n = 2/3/5, including empty and
    whitespace-only corners (split('', ws) -> [''])."""
    import random

    random.seed(7)
    rows = [
        (i, " ".join(f"t{random.randint(0, 5)}" for _ in range(random.randint(0, 12))))
        for i in range(300)
    ]
    rows += [(1000, ""), (1001, "   ")]
    df = spark.createDataFrame(rows, "id long, text string")
    for n in (2, 3, 5):
        got = {
            r["id"]: r["s"]
            for r in df.select(
                "id",
                textual.word_shingles(
                    textual.words(F.trim(F.col("text"))), n
                ).alias("s"),
            ).collect()
        }
        for i, text in rows:
            w = re.split(r"\s+", text.strip())
            want = (
                [" ".join(w[k : k + n]) for k in range(len(w) - n + 1)]
                if len(w) >= n
                else []
            )
            assert got[i] == want, (n, i, text, got[i], want)


def test_line_dedup_docs_oracle_holds_on_a_giant_doc(spark, tmp_path):
    """The tokenize-once projection is exercised where it matters — a
    document orders of magnitude longer than the corpus norm — and
    still matches the DuckDB oracle value-for-value."""
    from skew_audit import build_giant_doc

    from .oracle_harness import compare, duck_con

    import os

    import duckdb

    spark_dir = build_giant_doc(
        spark, "/root/testdata/sf0.001", str(tmp_path / "gd_spark"), words=5000
    )
    # the oracle harness reads single-file tables: flatten the Spark
    # directory write and symlink the other nine tables
    giant = str(tmp_path / "gd")
    os.makedirs(giant)
    duckdb.connect().execute(
        f"COPY (SELECT * FROM read_parquet('{spark_dir}/documents.parquet/*.parquet')) "
        f"TO '{giant}/documents.parquet' (FORMAT PARQUET)"
    )
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        os.symlink(f"/root/testdata/sf0.001/{t}.parquet", f"{giant}/{t}.parquet")
    spec = REGISTRY["line_dedup_docs"]
    got = spec.fn(spark, giant).toPandas()
    want = duck_con(giant).execute(spec.oracle).fetchdf()
    assert not compare(got, want, "line_dedup_docs")


def test_audio_window_hashes_equal_per_window_recompute(spark):
    """The md5-state clone must produce exactly md5(raw || str(i)) —
    checked against a fresh per-window recompute on a long row."""
    from acuvate_spark.operators import multimodal

    raw = bytes(range(256)) * 800  # ~200KB -> ~1000 windows
    df = spark.createDataFrame([(1, raw)], "doc_id long, media binary")
    rows = multimodal.sample_audio_windows(df).collect()
    assert len(rows) == (len(raw) - 400) // 200 + 1
    for r in rows[:5] + rows[-5:] + rows[500:505]:
        assert r["window_md5"] == hashlib.md5(
            raw + str(r["window_idx"]).encode()
        ).hexdigest()


def test_agg_state_fixtures_are_deterministic_and_hot(spark, tmp_path):
    from skew_audit import HOT_KEY, build_hot_lineitem

    from acuvate_spark.tables import load_table

    src = "/root/testdata/sf0.001"
    out = build_hot_lineitem(spark, src, str(tmp_path / "hot"))
    base = load_table(spark, src, "lineitem")
    hot = spark.read.parquet(f"{out}/lineitem.parquet")
    assert hot.count() == base.count()  # reassignment, not duplication
    share = hot.where(F.col("l_orderkey") == HOT_KEY).count() / hot.count()
    assert 0.25 < share < 0.35
