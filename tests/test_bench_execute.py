"""bench.py names the path each query ran: a write to the noop sink, or
the ``count()`` it falls back to when that write raises. A count can
prune columns and so times a different plan; the record lists those
queries under ``count_fallback``, and the detail artifact holds each
rep's Janino compiles."""

from __future__ import annotations

import json

import __spark_entry__
import bench
from tests.conftest import SF_SMOKE


class _NoNoopWrite:
    """A frame whose noop write raises and whose count works."""

    def __init__(self, df):
        self._df = df
        self.counted = 0

    @property
    def write(self):
        raise RuntimeError("noop sink unavailable")

    def count(self) -> int:
        self.counted += 1
        return self._df.count()


def test_execute_returns_the_path_that_ran(spark):
    assert bench._execute(spark.range(5)) == "noop"
    df = _NoNoopWrite(spark.range(5))
    assert bench._execute(df) == "count"
    assert df.counted == 1


def test_record_lists_count_fallback_and_compiles(spark, tmp_path, monkeypatch, capsys):
    qs = {
        "q_noop": lambda s, sf: s.range(5),
        "q_fallback": lambda s, sf: _NoNoopWrite(s.range(5)),
    }
    monkeypatch.setattr(__spark_entry__, "queries", lambda: qs)
    # the detail artifact is written next to bench.py's __file__
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", ",".join(qs))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_REPS", "2")
    bench.main()

    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["count_fallback"] == ["q_fallback"]
    assert "codegen_compiles" not in line
    detail = json.loads((tmp_path / "bench_detail.json").read_text())
    assert detail["count_fallback"] == ["q_fallback"]
    compiles = detail["codegen_compiles"]
    assert sorted(compiles) == sorted(qs)
    assert all(len(c) == 2 and min(c) >= 0 for c in compiles.values())
