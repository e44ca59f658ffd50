"""The shared streaming store (streaming/store.py): staging is atomic
and idempotent for every stager, and per-invocation run dirs of the
summary streams do not leak into the scratch root."""

from __future__ import annotations

import os
import re
import shutil

import pyarrow.parquet as pq
import pytest

from end_to_end_aws_data_pipeline_spark.streaming.pattern import staged_time_dir
from end_to_end_aws_data_pipeline_spark.streaming.sketch import (
    q_stream_heavy_hitters,
    q_stream_sketch_merge,
    staged_bucket_dir,
)
from tests.conftest import SF_SMOKE


@pytest.fixture
def events_copy(tmp_path):
    """A private copy of the smoke events table: its own staging key,
    so the test never touches the dirs other tests stage into."""
    src = str(tmp_path / "events.parquet")
    shutil.copyfile(os.path.join(SF_SMOKE, "events.parquet"), src)
    staged = []
    yield src, staged
    for d in staged:
        shutil.rmtree(d, ignore_errors=True)


def _chunks(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def _fingerprint(d: str) -> dict[str, tuple[int, int]]:
    return {
        f: (os.stat(os.path.join(d, f)).st_mtime_ns,
            os.stat(os.path.join(d, f)).st_ino)
        for f in os.listdir(d)
    }


@pytest.mark.parametrize("stager", [staged_time_dir, staged_bucket_dir])
def test_stager_atomic_and_idempotent(events_copy, stager):
    src, staged = events_copy
    d = stager(src)
    staged.append(d)
    n_rows = pq.read_metadata(src).num_rows
    chunks = _chunks(d)
    assert len(chunks) == 4 and os.path.exists(os.path.join(d, "_STAGED"))
    assert sum(
        pq.read_metadata(os.path.join(d, f)).num_rows for f in chunks
    ) == n_rows
    # the file source orders by modification time at ms resolution:
    # arrival order must be strict in whole seconds, not write jitter
    secs = [int(os.path.getmtime(os.path.join(d, f))) for f in chunks]
    assert all(a < b for a, b in zip(secs, secs[1:], strict=False)), secs

    # a second call returns the same dir without rewriting a file
    before = _fingerprint(d)
    assert stager(src) == d
    assert _fingerprint(d) == before

    # a crashed build (no marker, a partial file) and a stale private
    # build dir are both replaced by a complete build
    os.remove(os.path.join(d, "_STAGED"))
    open(os.path.join(d, "partial.parquet"), "w").close()
    tmp = f"{d}.tmp.{os.getpid()}"
    os.makedirs(tmp)
    open(os.path.join(tmp, "junk"), "w").close()
    assert stager(src) == d
    assert os.path.exists(os.path.join(d, "_STAGED"))
    assert _chunks(d) == chunks
    assert not os.path.exists(tmp)


def test_scratch_root_follows_tempdir(events_copy, monkeypatch, tmp_path):
    """Staged stream inputs and derived source files land under the
    process temp dir, wherever it points."""
    import tempfile

    from end_to_end_aws_data_pipeline_spark.operators.sources import (
        _derived_dir,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src, staged = events_copy
    d = staged_time_dir(src)
    staged.append(d)
    assert os.path.dirname(d) == str(tmp_path)
    assert os.path.dirname(_derived_dir(SF_SMOKE, "csv")) == str(tmp_path)


def test_stage_loser_adopts_winner(events_copy):
    """Two builders of one (path, mtime) key: the one whose rename
    loses keeps the winner's complete dir and drops its own build."""
    from end_to_end_aws_data_pipeline_spark.streaming import store

    src, staged = events_copy

    def winner(path: str, out: str) -> list[str]:
        f = os.path.join(out, "chunk_0.parquet")
        shutil.copyfile(path, f)
        return [f]

    d = store.stage(src, "storetest", winner)
    staged.append(d)
    os.rename(d, d + ".keep")
    staged.append(d + ".keep")

    def racing(path: str, out: str) -> list[str]:
        # the other builder completes while this one is mid-build
        shutil.copytree(d + ".keep", d)
        f = os.path.join(out, "chunk_1.parquet")
        shutil.copyfile(path, f)
        return [f]

    assert store.stage(src, "storetest", racing) == d
    assert sorted(os.listdir(d)) == sorted(os.listdir(d + ".keep"))
    assert not os.path.exists(f"{d}.tmp.{os.getpid()}")


@pytest.mark.parametrize(
    "query, prefixes",
    [
        (q_stream_sketch_merge, ("sketch_acc", "sketch_ckpt")),
        (q_stream_heavy_hitters, ("hh_acc", "hh_ckpt")),
    ],
)
def test_summary_stream_run_dirs_are_reaped(spark, query, prefixes):
    """A dead process's run dirs are reaped by the next invocation, and
    repeated invocations in one process keep one run dir per prefix."""
    base = os.path.dirname(
        staged_bucket_dir(os.path.join(SF_SMOKE, "events.parquet"))
    )
    dead = [os.path.join(base, f"{p}_999999999_0") for p in prefixes]
    for d in dead:
        os.makedirs(d, exist_ok=True)
    for _ in range(2):
        query(spark, SF_SMOKE).collect()
    assert not any(os.path.exists(d) for d in dead)
    me = os.getpid()
    for p in prefixes:
        mine = [
            n for n in os.listdir(base) if re.fullmatch(rf"{p}_{me}_\d+", n)
        ]
        assert len(mine) == 1, (p, mine)
