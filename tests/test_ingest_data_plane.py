"""The ingest data plane launches only the merge's jobs: the CSV head is
read on the driver, the base table's schema comes from Spark's footer
metadata, and the null audit's counts ride on the merge's write. Pins
that each of these gives what the Spark job it replaces gave."""

from __future__ import annotations

import gzip

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from end_to_end_aws_data_pipeline_spark.ingest import pipeline
from end_to_end_aws_data_pipeline_spark.ingest.clean import null_audit
from end_to_end_aws_data_pipeline_spark.ingest.infer import (
    infer_schema_from_csv_head,
    read_csv_with_inferred_schema,
)
from end_to_end_aws_data_pipeline_spark.ingest.merge import (
    footer_schema,
    merge_into_parquet,
    read_table,
)
from tests.test_ingest_control_plane import _jobs

# ---------------------------------------------------------------------------
# CSV head (reference schema policy)
# ---------------------------------------------------------------------------

_HEADS = {
    "bom.csv": "﻿Id,Name,Score\n1,amy,9.5\n".encode(),
    "header_only.csv": b"Id,Name,Score\n",
    "crlf.csv": b"Id,Name,Score\r\n1,amy,9.5\r\n2,bob,8\r\n",
    "no_trailing_newline.csv": b"Id,Name,Score\n1,amy,9.5",
    "quoted_comma.csv": b'Id,"Name, full",Score\n1,"amy, b",9.5\n',
    "gzip.csv.gz": gzip.compress(b"Id,Name,Score\n1,amy,9.5\n"),
}


def _text_head_schema(spark, path):
    """The schema from the head as Spark's text datasource reads it."""
    head = spark.read.text(path).limit(2).collect()
    return infer_schema_from_csv_head("\n".join(r.value for r in head))


@pytest.mark.parametrize("name", sorted(_HEADS))
def test_csv_head_read_on_driver(spark, tmp_path, name):
    """The schema equals the one from a text-datasource head read, and
    building the DataFrame launches no Spark job."""
    path = tmp_path / name
    path.write_bytes(_HEADS[name])
    df, n_jobs = _jobs(spark, lambda: read_csv_with_inferred_schema(spark, str(path)))
    assert n_jobs == 0
    assert df.schema == _text_head_schema(spark, str(path))
    if name == "header_only.csv":
        assert all(f.dataType == T.StringType() for f in df.schema.fields)
        assert df.count() == 0
    else:
        assert df.schema.names[0] == "Id" and df.first()["Id"] == 1


def test_csv_head_of_a_directory(spark, tmp_path):
    """A directory (not one file) reads its head through the text
    datasource, as before."""
    (tmp_path / "a.csv").write_text("Id,Name\n1,amy\n")
    df = read_csv_with_inferred_schema(spark, str(tmp_path))
    assert df.schema == _text_head_schema(spark, str(tmp_path))
    assert [tuple(r) for r in df.collect()] == [(1, "amy")]


# ---------------------------------------------------------------------------
# base-table schema from the footers
# ---------------------------------------------------------------------------


def _assert_read_like_spark(spark, table_dir):
    df, n_jobs = _jobs(spark, lambda: read_table(spark, table_dir))
    assert n_jobs == 0
    assert df.schema == spark.read.parquet(table_dir).schema  # nullability included
    assert sorted(df.collect()) == sorted(spark.read.parquet(table_dir).collect())


def test_footer_schema_unpartitioned(spark, tmp_path):
    table = str(tmp_path / "flat")
    rows = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, None)], "k bigint not null, v string, x double"
    )
    merge_into_parquet(spark, table, rows, ["k"])
    assert footer_schema(table)["k"].nullable is False  # as written
    _assert_read_like_spark(spark, table)
    assert read_table(spark, table).schema["k"].nullable is True  # as Spark reads it


def test_footer_schema_partitioned_after_merges(spark, tmp_path):
    """The partition column is not in the footers: it is discovered from
    the paths, with the type plain inference gives it."""
    table = str(tmp_path / "sharded")
    schema = "k bigint, v string, shard int"
    for rows in ([(1, "a", 1), (2, "b", 2)], [(1, "A", 1), (3, "c", 3)], [(4, "d", 2)]):
        merge_into_parquet(spark, table, spark.createDataFrame(rows, schema), ["k"], "shard")
    assert "shard" not in footer_schema(table).names
    _assert_read_like_spark(spark, table)
    assert dict(read_table(spark, table).dtypes)["shard"] == "int"


def test_footer_schema_fallback_without_spark_metadata(spark, tmp_path):
    """A file written by pyarrow carries no Spark schema: the read falls
    back to Spark's inference; so does a table whose files disagree."""
    table = tmp_path / "arrow"
    table.mkdir()
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", None]}), str(table / "part-0.parquet"))
    assert footer_schema(str(table)) is None
    df, n_jobs = _jobs(spark, lambda: read_table(spark, str(table)))
    assert n_jobs >= 1  # Spark's own footer inference
    assert df.schema == spark.read.parquet(str(table)).schema

    mixed = str(tmp_path / "mixed")
    spark.createDataFrame([(1,)], "a bigint").write.parquet(mixed)
    spark.createDataFrame([("x",)], "a string").write.mode("append").parquet(mixed)
    assert footer_schema(mixed) is None
    assert footer_schema(str(tmp_path / "absent")) is None


# ---------------------------------------------------------------------------
# null audit riding on the merge
# ---------------------------------------------------------------------------


def _delivery(tmp_path, ts, n_rows, n_bad):
    """``n_rows`` rows, the first ``n_bad`` of them holding a null
    (alternately in ``v`` and in ``x``); a repeated row at the end."""
    lines = ["k,v,x"]
    for i in range(n_rows):
        v = "" if i < n_bad and i % 2 == 0 else f"v{i}"
        x = "" if i < n_bad and i % 2 == 1 else f"{i}.5"
        lines.append(f"{ts * 1000 + i},{v},{x}")
    lines.append(lines[-1])
    d = tmp_path / "ingest" / f"20250102_00000{ts}"
    d.mkdir(parents=True)
    (d / "T.csv").write_text("\n".join(lines) + "\n")
    return str(d / "T.csv")


def test_audit_payload_matches_standalone_audit(spark, tmp_path, monkeypatch):
    """Over sequential deliveries in one session, each ``null_rows``
    payload equals a standalone ``null_audit`` of the same file. The
    deliveries' counts all differ, so a payload read from an earlier
    delivery's observation fails. The audit step launches one sample
    job for a delivery with a null, none for one without."""
    audit_jobs = []

    def counted_audit(*args, **kwargs):
        audit, n_jobs = _jobs(spark, lambda: null_audit(*args, **kwargs))
        audit_jobs.append(n_jobs)
        return audit

    # the pipeline calls the stage through its module global
    monkeypatch.setattr(pipeline, "null_audit", counted_audit)
    events = []
    pipe = pipeline.IngestPipeline(
        spark,
        str(tmp_path / "wh"),
        keys_by_table={"T": ["k"]},
        schema_policy="reference",
        notifier=events.append,
    )
    shapes = [(40, 25), (12, 3), (9, 0), (30, 1)]  # (rows, rows with a null)
    paths = [_delivery(tmp_path, i + 1, *shape) for i, shape in enumerate(shapes)]
    for path in paths:
        assert pipe.ingest_file(path).status == "loaded"
    assert audit_jobs == [1, 1, 0, 1]

    reports = [e.payload for e in events if e.kind == "null_rows"]
    assert len(reports) == 3
    for payload, path in zip(reports, [p for p, (_, bad) in zip(paths, shapes) if bad]):
        df = read_csv_with_inferred_schema(spark, path)
        want = null_audit(df)
        assert payload["n_rows"] == want.n_rows
        assert payload["n_bad_rows"] == want.n_bad_rows
        assert payload["null_counts"] == want.null_counts
        assert payload["sample"] == [r.asDict() for r in want.sample_bad_rows]
        assert len(payload["sample"]) == min(20, want.n_bad_rows)
        assert all(None in row.values() for row in payload["sample"])
    assert [(p["n_rows"], p["n_bad_rows"]) for p in reports] == [(41, 25), (13, 3), (31, 1)]
    assert reports[0]["null_counts"] == {"k": 0, "v": 13, "x": 12}

    rows = spark.read.parquet(pipe.table_dir("T")).collect()
    assert len(rows) == sum(n - bad for n, bad in shapes)  # repeats collapsed
    assert all(None not in tuple(r) for r in rows)


@pytest.mark.parametrize(
    "partition_by, onto_table", [(None, False), (None, True), ("shard", True)]
)
@pytest.mark.parametrize("text", ["k,v,shard\n2,,1\n3,c,\n", "k,v,shard\n"])
def test_audit_when_no_row_reaches_the_merge(spark, tmp_path, partition_by, onto_table, text):
    """When every row holds a null, or the file has none, the merge's
    first stage produces no rows and adaptive execution reports no
    observed metrics; the audit then counts in a pass of its own and
    still equals the standalone audit."""
    pipe = pipeline.IngestPipeline(
        spark,
        str(tmp_path / "wh"),
        keys_by_table={"T": ["k"]},
        schema_policy="reference",
        notifier=lambda event: None,
        partition_by_table={"T": partition_by} if partition_by else None,
    )
    folder = tmp_path / "ingest" / "20250103_000002"
    folder.mkdir(parents=True)
    (folder / "T.csv").write_text(text)
    if onto_table:
        first = tmp_path / "ingest" / "20250103_000001" / "T.csv"
        first.parent.mkdir()
        first.write_text("k,v,shard\n1,a,1\n")
        pipe.ingest_file(str(first))
    res = pipe.ingest_file(str(folder / "T.csv"))
    assert (res.status, res.n_rows_written) == ("loaded", int(onto_table))
    df = read_csv_with_inferred_schema(spark, str(folder / "T.csv"))
    assert res.audit == null_audit(df)
    assert res.audit.n_rows == text.count("\n") - 1
