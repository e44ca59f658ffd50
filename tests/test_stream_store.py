"""Staging (catalog.stage) and the shared streaming store
(streaming/store.py): staging is atomic, idempotent and keyed by its
inputs and the package code for every stager, and per-invocation run
dirs of the summary streams do not leak into the scratch root."""

from __future__ import annotations

import ast
import os
import re
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest

from end_to_end_aws_data_pipeline_spark import catalog
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


def test_scratch_root_follows_tempdir(spark, events_copy, monkeypatch, tmp_path):
    """Staged stream inputs and derived source files land under the
    process temp dir, wherever it points."""
    from end_to_end_aws_data_pipeline_spark.operators.sources import (
        _ensure_nation_csv,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src, staged = events_copy
    d = staged_time_dir(src)
    staged.append(d)
    assert os.path.dirname(d) == str(tmp_path)
    assert os.path.dirname(_ensure_nation_csv(spark, SF_SMOKE)) == str(tmp_path)


@pytest.fixture
def scratch(monkeypatch, tmp_path):
    """A private scratch root and one input file in it."""
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    src = tmp_path / "in.txt"
    src.write_text("v1")
    return str(root), str(src)


def _writer(calls: list[str], name: str = "out.txt"):
    def build(out: str) -> None:
        calls.append(out)
        with open(os.path.join(out, name), "w") as f:
            f.write("built")

    return build


def test_stage_loser_adopts_winner(scratch):
    """Two builders of one key: the one whose rename loses keeps the
    winner's complete dir and drops its own build."""
    _, src = scratch
    d = catalog.stage("t", [src], _writer([], "winner.txt"))
    os.rename(d, d + ".keep")

    def racing(out: str) -> None:
        # the other builder completes while this one is mid-build
        shutil.copytree(d + ".keep", d)
        _writer([], "loser.txt")(out)

    assert catalog.stage("t", [src], racing) == d
    assert sorted(os.listdir(d)) == sorted(os.listdir(d + ".keep"))
    assert not os.path.exists(f"{d}.tmp.{os.getpid()}")


def test_stage_clears_a_crashed_build(scratch):
    """A dir without its marker (a crashed build, a partial file) and a
    stale private build dir are both replaced by a complete build; the
    unmarked dir is never returned as is."""
    _, src = scratch
    calls: list[str] = []
    d = catalog.stage("t", [src], _writer(calls))
    assert catalog.stage("t", [src], _writer(calls)) == d and len(calls) == 1
    os.remove(os.path.join(d, "_STAGED"))
    open(os.path.join(d, "partial.txt"), "w").close()
    tmp = f"{d}.tmp.{os.getpid()}"
    os.makedirs(tmp)
    open(os.path.join(tmp, "junk"), "w").close()
    assert catalog.stage("t", [src], _writer(calls)) == d
    assert len(calls) == 2
    assert sorted(os.listdir(d)) == ["_STAGED", "out.txt"]
    assert not os.path.exists(tmp)


def test_new_code_restages_and_reaps_old_builds(scratch, monkeypatch):
    """Other package code lands a new dir and deletes the complete dir
    the old code staged from the same inputs, but no private build dir
    and no dir of another shape."""
    root, src = scratch
    old = catalog.stage("t", [src], _writer([]))
    other = catalog.stage("t2", [src], _writer([]))
    keep = [f"{old}.tmp.999999999", f"{old}.keep"]
    for k in keep:
        shutil.copytree(old, k)
    monkeypatch.setattr(catalog, "_code_digest", lambda: "f" * 40)
    new = catalog.stage("t", [src], _writer([]))
    assert new != old and new.endswith("_" + "f" * 12)
    assert os.path.exists(os.path.join(new, "_STAGED"))
    assert not os.path.exists(old)
    assert all(os.path.isdir(k) for k in keep + [other])


def test_code_digest_follows_every_package_file(monkeypatch, tmp_path):
    """Editing any package file, a nested one included, changes the
    code digest that names every staged dir."""
    copy = tmp_path / "pkg"
    shutil.copytree(
        os.path.dirname(catalog.__file__), copy,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    monkeypatch.setattr(catalog, "__file__", str(copy / "catalog.py"))
    digest = catalog._code_digest.__wrapped__
    before = digest()
    assert before == catalog._code_digest()
    with open(copy / "operators" / "multimodal.py", "a") as f:
        f.write("# edited\n")
    assert digest() != before


def test_input_changes_restage(scratch, tmp_path):
    """Rewriting an input file, or adding a file under a directory
    input, gives a new dir."""
    _, src = scratch
    d1 = catalog.stage("t", [src], _writer([]))
    with open(src, "w") as f:
        f.write("v2")
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    d2 = catalog.stage("t", [src], _writer([]))
    assert d2 != d1

    tree = tmp_path / "tree"
    (tree / "sub").mkdir(parents=True)
    (tree / "sub" / "a.txt").write_text("a")
    d3 = catalog.stage("t", [str(tree)], _writer([]))
    assert catalog.stage("t", [str(tree)], _writer([])) == d3
    (tree / "sub" / "b.txt").write_text("b")
    assert catalog.stage("t", [str(tree)], _writer([])) not in (d1, d2, d3)


def test_input_free_stage_serves_every_sf_dir(spark, tmp_path):
    """The binaryFile scan's images derive from doc_id alone, so one
    staged dir serves two sf_dirs."""
    from end_to_end_aws_data_pipeline_spark.operators.sources import (
        q_source_binaryfile_scan,
    )

    dirs = {
        os.path.dirname(f)
        for sf in (SF_SMOKE, str(tmp_path))
        for f in q_source_binaryfile_scan(spark, sf).inputFiles()
    }
    assert len(dirs) == 1
    assert os.path.basename(dirs.pop().removeprefix("file:")).startswith(
        "staged_binfile_"
    )


def test_only_the_stager_handles_markers():
    """Outside catalog.py no package module writes or tests a staging
    marker (``_STAGED``, Spark's ``_SUCCESS``) or asks for the scratch
    root: every staged input goes through ``catalog.stage``."""
    pkg = os.path.dirname(catalog.__file__)
    marker = re.compile(r"(^|/)(_STAGED|_SUCCESS)$")
    found = []
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == catalog.__file__:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and marker.search(node.value)
                ) or (
                    isinstance(node, ast.Name) and node.id == "scratch_root"
                ) or (
                    isinstance(node, ast.Attribute) and node.attr == "scratch_root"
                ):
                    found.append(f"{os.path.relpath(path, pkg)}:{node.lineno}")
    assert not found, found


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
