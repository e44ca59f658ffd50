"""ETL-parity tests on reference-shaped CSV fixtures (FIXTURES.md §B):
first-row inference edge cases, null audit + clean, keyed upsert,
strictly-newer gate, versioned re-delivery, header-only files."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from end_to_end_aws_data_pipeline_spark.ingest.infer import (
    infer_schema_first_row,
    read_csv_with_inferred_schema,
)
from end_to_end_aws_data_pipeline_spark.ingest.clean import clean, null_audit
from end_to_end_aws_data_pipeline_spark.ingest.merge import upsert
from end_to_end_aws_data_pipeline_spark.ingest.pipeline import (
    IngestPipeline,
    parse_increment_path,
)
from end_to_end_aws_data_pipeline_spark.ingest.jdbc import upsert_sql

SUBJECTS_V1 = """AcademicYear,Subject,Class,Section,PrimaryTeacher,AssistantTeacher,LabTechnician
2022-2023,Physics,11,A,Rao,Iyer,Khan
2022-2023,Chemistry,11,A,Das,,Khan
2022-2023,Maths,12,B,Rao,Iyer,Bose
2022-2023,Maths,12,B,Rao,Iyer,Bose
"""

SUBJECTS_V2 = """AcademicYear,Subject,Class,Section,PrimaryTeacher,AssistantTeacher,LabTechnician
2022-2023,Physics,11,A,Rao,Iyer,Khan
2023-2024,Biology,11,C,Nair,Iyer,Khan
"""


def _write(tmp_path, folder, name, text):
    d = tmp_path / "ingest" / folder
    d.mkdir(parents=True, exist_ok=True)
    p = d / name
    p.write_text(text, encoding="utf-8")
    return str(p)


# ---------------------------------------------------------------------------
# schema inference (ref first_lambda_function.py:52-73)
# ---------------------------------------------------------------------------


def test_infer_type_traps():
    schema = infer_schema_first_row(
        ["﻿Id", "Name", "Joined", "Score", "Zeroes", "Neg", "Blank"],
        ["7", "amy", "03-06-2016", "9.5", "00123", "-5", ""],
    )
    got = {f.name: f.dataType for f in schema.fields}
    assert got["Id"] == T.LongType()  # BOM stripped + digits
    assert got["Name"] == T.StringType()
    assert got["Joined"] == T.StringType()  # dates stay strings
    assert got["Score"] == T.DoubleType()
    assert got["Zeroes"] == T.LongType()  # "00123".isdigit() → int
    assert got["Neg"] == T.DoubleType()  # "-5".isdigit() False → float
    assert got["Blank"] == T.StringType()  # float("") raises → varchar


def test_infer_header_only_graceful():
    # reference raised StopIteration (first_lambda_function.py:56-59);
    # we degrade to all-string
    schema = infer_schema_first_row(["A", "B"], None)
    assert all(f.dataType == T.StringType() for f in schema.fields)


def test_read_csv_reference_policy(spark, tmp_path):
    p = _write(tmp_path, "20250101_000000", "t.csv", "Id,Name,Score\n1,amy,9.5\n2,bob,8.0\n")
    df = read_csv_with_inferred_schema(spark, p)
    assert dict(df.dtypes) == {"Id": "bigint", "Name": "string", "Score": "double"}
    assert df.count() == 2


def test_pipeline_rejects_other_schema_policies(spark, tmp_path):
    """First-row inference is the only policy: any other name is an
    error, not a silent switch to Spark's all-row inference."""
    with pytest.raises(ValueError, match="schema_policy 'native'"):
        IngestPipeline(spark, str(tmp_path), schema_policy="native")


# ---------------------------------------------------------------------------
# clean + audit (ref delta_load.py:67-98)
# ---------------------------------------------------------------------------


def test_null_audit_and_clean(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c"), (1, "a")], schema="k int, v string"
    )
    audit = null_audit(df)
    assert audit.n_rows == 4
    assert audit.n_bad_rows == 2
    assert audit.null_counts == {"k": 1, "v": 1}
    assert len(audit.sample_bad_rows) == 2

    out = clean(df)
    assert sorted(out.collect()) == [(1, "a")]  # nulls dropped, dup collapsed


# ---------------------------------------------------------------------------
# keyed upsert (ref delta_load.py:169-202)
# ---------------------------------------------------------------------------


def test_upsert_replaces_and_appends(spark):
    base = spark.createDataFrame([(1, "old"), (2, "keep")], "k int, v string")
    upd = spark.createDataFrame([(1, "new"), (3, "ins")], "k int, v string")
    got = sorted(upsert(base, upd, ["k"]).collect())
    assert got == [(1, "new"), (2, "keep"), (3, "ins")]


def test_upsert_idempotent(spark):
    base = spark.createDataFrame([(1, "x")], "k int, v string")
    upd = spark.createDataFrame([(1, "x")], "k int, v string")
    once = upsert(base, upd, ["k"])
    twice = upsert(once, upd, ["k"])
    assert sorted(once.collect()) == [(1, "x")]
    assert sorted(twice.collect()) == [(1, "x")]


def test_upsert_sql_shape():
    sql = upsert_sql("t", ["A", "B"])
    assert sql == (
        "INSERT INTO `t` (`A`, `B`) VALUES (%s, %s) "
        "ON DUPLICATE KEY UPDATE `A`=VALUES(`A`), `B`=VALUES(`B`)"
    )


def test_upsert_sql_postgres_and_sqlite():
    pg = upsert_sql("t", ["k", "a", "b"], dialect="postgresql", key_columns=["k"])
    assert pg == (
        'INSERT INTO "t" ("k", "a", "b") VALUES (%s, %s, %s) '
        'ON CONFLICT ("k") DO UPDATE SET "a"=EXCLUDED."a", "b"=EXCLUDED."b"'
    )
    lite = upsert_sql("t", ["k", "v"], dialect="sqlite", key_columns=["k"])
    assert lite == (
        'INSERT INTO "t" ("k", "v") VALUES (?, ?) '
        'ON CONFLICT ("k") DO UPDATE SET "v"=EXCLUDED."v"'
    )
    keys_only = upsert_sql("t", ["k"], dialect="sqlite", key_columns=["k"])
    assert keys_only.endswith("DO NOTHING")
    with pytest.raises(ValueError, match="key_columns"):
        upsert_sql("t", ["k", "v"], dialect="postgresql")
    with pytest.raises(ValueError, match="not in columns"):
        upsert_sql("t", ["k", "v"], dialect="sqlite", key_columns=["zz"])


def test_jdbc_upsert_sqlite_roundtrip(spark, tmp_path):
    """write_jdbc_upsert executes against a REAL database: stdlib
    sqlite3 through the same foreachPartition + executemany path a
    mysql/postgres driver would use."""
    import sqlite3

    from end_to_end_aws_data_pipeline_spark.ingest.jdbc import write_jdbc_upsert

    db = str(tmp_path / "upsert.db")
    with sqlite3.connect(db) as conn:
        conn.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
        conn.executemany(
            "INSERT INTO t VALUES (?, ?)", [(1, "old"), (2, "keep")]
        )
        conn.commit()

    df = spark.createDataFrame([(1, "new"), (3, "ins")], "k long, v string")
    # single partition: sqlite's writer lock rejects concurrent writers
    write_jdbc_upsert(
        df.coalesce(1),
        "t",
        connection_factory=lambda: sqlite3.connect(db),
        batch_size=1,  # exercise the mid-partition commit path too
        dialect="sqlite",
        key_columns=["k"],
    )

    with sqlite3.connect(db) as conn:
        got = sorted(conn.execute("SELECT k, v FROM t").fetchall())
    assert got == [(1, "new"), (2, "keep"), (3, "ins")]


# ---------------------------------------------------------------------------
# end-to-end incremental pipeline (EP1/EP2, SURVEY.md §3)
# ---------------------------------------------------------------------------


def test_parse_increment_path():
    t, ts = parse_increment_path("/x/20250108_075503/SUBJECT_DETAILS.csv")
    assert t == "SUBJECT_DETAILS"
    assert ts == 20250108075503
    with pytest.raises(ValueError):
        parse_increment_path("/x/notafolder/SUBJECT_DETAILS.csv")


def test_pipeline_versioned_redelivery(spark, tmp_path):
    p1 = _write(tmp_path, "20250108_075503", "SUBJECT_DETAILS.csv", SUBJECTS_V1)
    p2 = _write(tmp_path, "20250108_075504", "SUBJECT_DETAILS.csv", SUBJECTS_V2)
    wh = str(tmp_path / "warehouse")
    pipe = IngestPipeline(
        spark, wh, keys_by_table={"SUBJECT_DETAILS": ["Subject", "Class", "Section"]}
    )

    r1 = pipe.ingest_file(p1)
    assert r1.status == "loaded"
    assert r1.audit.n_bad_rows == 1  # the empty AssistantTeacher row
    assert r1.n_rows_written == 2  # 4 rows − 1 null − 1 dup

    # re-delivery of the SAME version must be a no-op (gate: equal skipped)
    r1b = pipe.ingest_file(p1)
    assert r1b.status == "skipped_not_newer"

    r2 = pipe.ingest_file(p2)
    assert r2.status == "loaded"
    tbl = spark.read.parquet(pipe.table_dir("SUBJECT_DETAILS"))
    rows = {(r.Subject, r.AcademicYear) for r in tbl.collect()}
    # v2 upserted Physics (same key), added Biology; Maths from v1 kept
    assert rows == {("Physics", "2022-2023"), ("Maths", "2022-2023"), ("Biology", "2023-2024")}

    # an OLDER delivery arriving late must be gated out
    p_old = _write(tmp_path, "20250108_075502", "SUBJECT_DETAILS.csv", SUBJECTS_V1)
    assert pipe.ingest_file(p_old).status == "skipped_not_newer"

    # but an explicit backfill bypasses the gate (EP2 semantics)
    assert pipe.backfill(p_old).status == "loaded"


def test_failed_load_does_not_advance_watermark(spark, tmp_path, monkeypatch):
    """at-least-once replay: a crash before the watermark advance leaves
    the gate open, and the keyed upsert makes the retry idempotent
    (ref delta_load.py:49-53 ordering)."""
    import end_to_end_aws_data_pipeline_spark.ingest.pipeline as pipe_mod

    p1 = _write(tmp_path, "20250108_075503", "T.csv", "K,V\n1,a\n2,a\n")
    pipe = IngestPipeline(spark, str(tmp_path / "wh"), keys_by_table={"T": ["K"]})

    boom = RuntimeError("sink unavailable")

    def failing_merge(*a, **kw):
        raise boom

    monkeypatch.setattr(pipe_mod, "merge_into_parquet", failing_merge)
    try:
        pipe.ingest_file(p1)
        raise AssertionError("expected merge failure")
    except RuntimeError as e:
        assert e is boom
    assert pipe.watermarks.get("T") is None  # gate still open

    monkeypatch.undo()
    r = pipe.ingest_file(p1)  # replay succeeds
    assert r.status == "loaded"
    assert pipe.watermarks.get("T") == 20250108075503
    # replaying again after success is gated
    assert pipe.ingest_file(p1).status == "skipped_not_newer"


def test_pipeline_ingest_root_ordering(spark, tmp_path):
    _write(tmp_path, "20250108_075504", "T.csv", "K,V\n1,b\n")
    _write(tmp_path, "20250108_075503", "T.csv", "K,V\n1,a\n2,a\n")
    pipe = IngestPipeline(spark, str(tmp_path / "wh"), keys_by_table={"T": ["K"]})
    results = pipe.ingest_root(str(tmp_path / "ingest"))
    assert [r.status for r in results] == ["loaded", "loaded"]
    tbl = spark.read.parquet(pipe.table_dir("T"))
    got = {(r.K, r.V) for r in tbl.collect()}
    assert got == {(1, "b"), (2, "a")}  # newest version won for K=1


def test_upsert_sql_dialect_goldens():
    """Pin the EXACT generated upsert statement per dialect: no real
    mysql/postgres server exists in this sandbox, so the generated SQL
    string is the contract a real engine would receive — any drift is a
    visible diff here, not a silent production surprise."""
    from end_to_end_aws_data_pipeline_spark.ingest.jdbc import upsert_sql

    cols = ["id", "name", "qty"]
    assert upsert_sql("tgt", cols, "mysql") == (
        "INSERT INTO `tgt` (`id`, `name`, `qty`) VALUES (%s, %s, %s) "
        "ON DUPLICATE KEY UPDATE `id`=VALUES(`id`), `name`=VALUES(`name`), "
        "`qty`=VALUES(`qty`)"
    )
    assert upsert_sql("tgt", cols, "postgresql", key_columns=["id"]) == (
        'INSERT INTO "tgt" ("id", "name", "qty") VALUES (%s, %s, %s) '
        'ON CONFLICT ("id") DO UPDATE SET "name"=EXCLUDED."name", '
        '"qty"=EXCLUDED."qty"'
    )
    assert upsert_sql("tgt", cols, "sqlite", key_columns=["id"]) == (
        'INSERT INTO "tgt" ("id", "name", "qty") VALUES (?, ?, ?) '
        'ON CONFLICT ("id") DO UPDATE SET "name"=EXCLUDED."name", '
        '"qty"=EXCLUDED."qty"'
    )
    # composite key, pure-key row: conflict degrades to DO NOTHING
    assert upsert_sql("tgt", ["a", "b"], "sqlite", key_columns=["a", "b"]) == (
        'INSERT INTO "tgt" ("a", "b") VALUES (?, ?) '
        'ON CONFLICT ("a", "b") DO NOTHING'
    )


def test_apply_cdc_semantics(spark):
    """Insert, update, delete, multi-change-per-key, and untouched
    pass-through — the full merge-on-read contract."""
    from end_to_end_aws_data_pipeline_spark.operators.cdc import apply_cdc

    snap = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 200), (3, "c", 300)],
        "k: long, s: string, v: long",
    )
    changes = spark.createDataFrame(
        [
            (2, 1, "U", "b2", 201),   # update
            (3, 1, "U", "c2", 301),   # superseded...
            (3, 2, "D", "c3", 302),   # ...by delete
            (9, 1, "U", "new", 900),  # insert (not in snapshot)
            (9, 2, "U", "new2", 901),  # latest insert wins
        ],
        "k: long, seq: int, op: string, s: string, v: long",
    )
    got = {r.k: (r.s, r.v) for r in apply_cdc(snap, changes, key="k").collect()}
    assert got == {1: ("a", 100), 2: ("b2", 201), 9: ("new2", 901)}


def test_scd2_build_intervals(spark):
    from end_to_end_aws_data_pipeline_spark.operators.cdc import scd2_build

    changes = spark.createDataFrame(
        [(1, 10, "U", 5), (1, 20, "U", 6), (1, 30, "U", 7), (2, 15, "U", 9)],
        "k: long, seq: int, op: string, v: long",
    )
    rows = {
        (r.k, r.valid_from): (r.valid_to, r.is_current, r.v)
        for r in scd2_build(changes, key="k").collect()
    }
    assert rows == {
        (1, 10): (20, False, 5),
        (1, 20): (30, False, 6),
        (1, 30): (None, True, 7),
        (2, 15): (None, True, 9),
    }


