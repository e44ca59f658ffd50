"""Curation operator properties: split determinism and balance,
rate sampling exactness, packing bin-capacity bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_aws_data_pipeline_spark.operators.curation import (
    _PACK_BUDGET,
    assign_split,
    hash_bucket,
    sample_by_rate,
)

SF = "/root/testdata/sf0.001"


def test_split_deterministic_and_balanced(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    a = {r["doc_id"]: r["split"] for r in assign_split(d, "doc_id").collect()}
    # repartitioning must not change any assignment
    b = {
        r["doc_id"]: r["split"]
        for r in assign_split(d.repartition(7), "doc_id").collect()
    }
    assert a == b
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    # 80% ±10pp on a small sample
    assert 0.7 * n <= train <= 0.9 * n
    assert set(a.values()) <= {"train", "val", "test"}


def test_sample_by_rate_is_subset_filter(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    kept = sample_by_rate(d, "doc_id", F.lit(250))
    ids = [r["doc_id"] for r in kept.select("doc_id").collect()]
    # exactness: kept iff bucket < rate — recompute buckets driver-side
    buckets = {
        r["doc_id"]: r["b"]
        for r in d.select("doc_id", hash_bucket("doc_id").alias("b")).collect()
    }
    expected = {i for i, b in buckets.items() if b < 250}
    assert set(ids) == expected
    # rate 0 and 1000 are the empty / identity samples
    assert sample_by_rate(d, "doc_id", F.lit(0)).count() == 0
    assert sample_by_rate(d, "doc_id", F.lit(1000)).count() == d.count()


def test_pack_bins_respect_budget(spark):
    from end_to_end_aws_data_pipeline_spark.operators.curation import (
        q_curation_pack,
    )

    bins = q_curation_pack(spark, SF).collect()
    assert len(bins) > 0
    for r in bins:
        # a bin may exceed the budget only by its LAST doc's overhang
        # (greedy rule starts a doc in the current bin if any room);
        # no bin may exceed budget + max single-doc size
        assert r["sum_tokens"] < _PACK_BUDGET * 2 + 1
        assert r["n_docs"] >= 1
    # every doc packed exactly once
    d = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r["n_docs"] for r in bins) == d.count()


def test_hash_bucket_range(spark):
    d = spark.range(0, 5000).withColumn("b", hash_bucket("id"))
    mn, mx = d.agg(F.min("b"), F.max("b")).first()
    assert mn >= 0 and mx < 1000


def test_hash_bucket_huge_keys_match_duckdb(spark):
    """Keys above ~3.47e9 used to overflow key*KNUTH in int64: Spark
    wrapped silently while DuckDB raised. After the _KEY_MOD reduction
    both engines compute the identical bucket for the full BIGINT
    range."""
    import duckdb

    from end_to_end_aws_data_pipeline_spark.operators.curation import (
        _bucket_sql,
    )

    keys = [0, 1, 3_470_000_000, 2**31 - 1, 2**40 + 17, 2**62 + 123]
    sdf = spark.createDataFrame([(k,) for k in keys], "key: long")
    got = {
        r["key"]: r["b"]
        for r in sdf.withColumn("b", hash_bucket("key")).collect()
    }
    con = duckdb.connect()
    for k in keys:
        (want,) = con.execute(
            f"SELECT {_bucket_sql(str(k))}"
        ).fetchone()
        assert got[k] == want, f"key {k}: spark {got[k]} != duckdb {want}"
        assert 0 <= got[k] < 1000


def test_shingle_oracle_parity_short_docs(spark):
    """Docs with fewer than k words emit the truncated window in BOTH
    engines (concat_ws skips NULLs identically) — previously the DuckDB
    oracle produced a NULL shingle for 1-2-word docs."""
    import duckdb

    from end_to_end_aws_data_pipeline_spark.operators.dedup import shingles

    texts = ["one", "two words", "three word doc", "now four word doc"]
    sdf = spark.createDataFrame([(t,) for t in texts], "text: string")
    got = {
        t: sorted(r["s"])
        for t, r in zip(
            texts, sdf.select(shingles(F.col("text")).alias("s")).collect()
        )
    }
    con = duckdb.connect()
    for t in texts:
        (want,) = con.execute(
            """
            SELECT list_distinct(list_transform(
              range(1, greatest(len(string_split(t,' ')) - 2, 1) + 1),
              i -> concat_ws(' ', string_split(t,' ')[i],
                   string_split(t,' ')[i+1], string_split(t,' ')[i+2])
            )) FROM (SELECT ? AS t)
            """,
            [t],
        ).fetchone()
        assert got[t] == sorted(want), f"{t!r}: {got[t]} != {sorted(want)}"
    assert got["one"] == ["one"]
    assert got["two words"] == ["two words"]


def test_gopher_rules_each_rule_fires(spark, tmp_path):
    """One crafted document per Gopher rule: each fails exactly its
    targeted rule (plus any arithmetically entangled ones), and the
    English control document passes all seven."""
    import pandas as pd

    from end_to_end_aws_data_pipeline_spark.operators.curation import (
        q_curation_gopher_rules,
    )

    good = (
        "the quick brown fox jumps over that lazy dog and friends "
    ) * 6  # 60 words, all alpha, required words present
    docs = {
        0: good.strip(),
        1: "the and short",  # < 50 words
        2: ("#### " * 60 + "the and of").strip(),  # symbol ratio + alpha
        3: "\n".join(["- the bullet and line of text here"] * 10),  # bullets
        4: "\n".join(["the line that trails and so..."] * 10),  # ellipsis
        5: ("12345 " * 60 + "the and").strip(),  # alpha-word ratio
        6: ("zebra quilt jumps nicely " * 15).strip(),  # no required words
        7: (
            "pneumonoultramicroscopicsilicovolcanoconiosis " * 55
        ).strip() + " the and",  # mean word length > 10
    }
    pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": list(docs.values()),
            "n_chars": [len(t) for t in docs.values()],
            "lang": ["en"] * len(docs),
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {r["doc_id"]: r.asDict() for r in
           q_curation_gopher_rules(spark, str(tmp_path)).collect()}

    assert got[0]["keep"] is True
    assert all(v for k, v in got[0].items() if k.startswith("ok_"))
    assert got[1]["ok_word_count"] is False and got[1]["keep"] is False
    assert got[2]["ok_symbol_ratio"] is False
    assert got[3]["ok_bullets"] is False
    assert got[4]["ok_ellipsis"] is False
    assert got[5]["ok_alpha_words"] is False
    assert got[6]["ok_required_words"] is False and got[6]["keep"] is False
    assert got[7]["ok_mean_word_len"] is False


def test_shingle_forms_agree_across_k_crossover(spark):
    """shingles() switches window-builder form at k>6 (zip_with below,
    transform+slice above — a measured perf crossover, never a
    semantics change): both forms must emit identical windows,
    including the short-doc truncation."""
    from pyspark.sql import Column

    from end_to_end_aws_data_pipeline_spark.operators.dedup import shingles

    def zipwith_form(text: Column, k: int) -> Column:
        words = F.split(text, " ")
        n = F.size(words)
        tri = words
        for j in range(1, k):
            shifted = F.slice(words, j + 1, F.greatest(n - j, F.lit(0)))
            tri = F.zip_with(
                tri, shifted, lambda x, y: F.concat_ws(" ", x, y)
            )
        return F.array_distinct(
            F.slice(tri, 1, F.greatest(n - k + 1, F.lit(1)))
        )

    texts = [
        "one",
        "a b c d e f g",          # exactly k-1 below k=8
        "a b c d e f g h",        # exactly k
        "a b c d e f g h i j k l m n o p",
        "dup dup dup dup dup dup dup dup dup dup",  # duplicate windows
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], "text: string")
    for k in (7, 8, 13):
        got = sdf.select(shingles(F.col("text"), k).alias("s")).collect()
        want = sdf.select(zipwith_form(F.col("text"), k).alias("s")).collect()
        assert [sorted(r["s"]) for r in got] == [
            sorted(r["s"]) for r in want
        ], k
