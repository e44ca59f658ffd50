"""The benchmark's workloads. Each one provides:

* ``generate(work_dir)`` - write the seeded inputs (not timed);
* ``prepare(spark)`` - the untimed warm-up before the first timed pass:
  the ETL snapshot load, or one checked run of every basket query;
* ``pass_ops(spark, tracer, pass_no)`` - one pass of timed ops, as
  ``Op`` objects. An op returns True when its output is right;
* ``after_pass(spark, results, pass_no)`` - the untimed end-of-pass
  correctness check; it marks the results it finds wrong.
"""

from __future__ import annotations

import copy
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass
from typing import Callable

import gen

# the engine's sf0.001 test tables (seed 42), copied verbatim
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.001")


@dataclass
class Op:
    name: str
    kind: str  # query | stream | load | replay
    # runs the op; returns True/False, or a check to call after the
    # op's clock stops (reading a result back is not part of the op)
    run: Callable[[], "bool | Callable[[], bool]"]
    rows: int = 0  # delivered CSV rows (load ops)
    csv_bytes: int = 0


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# driver_loops
# --------------------------------------------------------------------------


class DriverLoops:
    """Job-bound iterative queries over the fixture tables (most jobs
    launch while the DataFrame is built) plus one streaming op: a
    Structured Streaming ingest that drains a few deliveries, one
    micro-batch each. A pass runs every op once, in a seeded order; a
    query op builds the query, writes it to the noop sink and releases
    the operator caches."""

    basket = (
        "q_graph_kcore",
        "q_graph_mis",
        "q_graph_hits",
        "q_dedup_clusters_star",  # overlaps independent jobs
    )
    recheck = 1  # basket queries re-run against their oracle after each pass
    stream_table = "customers"

    def __init__(self, seed: int):
        self.seed = seed
        self.sf_dir = FIXTURE
        self.expected: dict = {}  # query -> its DuckDB oracle's result
        self.wrong: set[str] = set()  # queries that failed a check
        self.check_failures: list[str] = []
        self.check_s = 0.0  # oracle wait and comparison, not part of set-up

    def generate(self, work_dir: str) -> None:
        self.work_dir = work_dir
        self.stream_root = os.path.join(work_dir, "stream_in")
        plan = gen.etl_plan(self.stream_root, self.seed, base_rows=2000,
                            delta_rows=600, n_increments=2, replay_every=99)
        # the file source takes files oldest first: pin mtimes to
        # delivery order
        model = gen.EtlModel()
        for i, d in enumerate(plan.base + plan.increments):
            os.utime(d.path, (1_700_000_000 + i, 1_700_000_000 + i))
            if d.table == self.stream_table:
                model.apply(d)
        self.stream_expected = model.rows(self.stream_table)
        self.stream_live_bytes = model.live_csv_bytes()
        self._stream_runs = 0

    def _run_query(self, spark, tracer, name: str) -> Callable[[], bool]:
        from end_to_end_aws_data_pipeline_spark import cache

        with tracer.span("build"):
            df = self.qs[name](spark, self.sf_dir)
        with tracer.span("exec"):
            _noop_write(df)
        with tracer.span("cache.release", entries=len(cache._LIVE)):
            cache.release_all()
        return lambda: name not in self.wrong

    def _check(self, spark, name: str) -> list[str]:
        """Run ``name`` once, untimed, and compare its result with its
        oracle's (``tools/check_oracle.compare``)."""
        from end_to_end_aws_data_pipeline_spark import cache
        from tools.check_oracle import compare

        try:
            pdf = self.qs[name](spark, self.sf_dir).toPandas()
            t = time.perf_counter()
            problems = compare(pdf, self.expected[name].result())
            self.check_s += time.perf_counter() - t
        except Exception as e:  # a crash is a failed check, not a failed run
            problems = [f"{type(e).__name__}: {e}"]
        finally:
            cache.release_all()
        if problems:
            self.wrong.add(name)
        return problems

    def prepare(self, spark) -> None:
        """Warm-up and oracle check: run every basket query once,
        untimed, and compare its result with its DuckDB oracle from
        ``registry.oracle_sql()``. The oracles run on a second thread
        meanwhile (DuckDB drops the GIL); waiting for them and comparing
        is kept in ``check_s``, apart from the warm-up."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb
        from end_to_end_aws_data_pipeline_spark import registry

        oracles = registry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET threads = 2")
        for f in sorted(os.listdir(self.sf_dir)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                        f"SELECT * FROM '{os.path.join(self.sf_dir, f)}'")
        pool = ThreadPoolExecutor(1)
        self.expected = {n: pool.submit(lambda n=n: con.execute(oracles[n]).fetchdf())
                         for n in self.basket}
        for name in self.basket:
            problems = self._check(spark, name)
            if problems:
                self.check_failures.append(f"{name}: {problems[0]}")
        pool.shutdown()
        con.close()
        if not self._stream_op(spark)():
            self.check_failures.append("stream_ingest: table differs from the model")

    def _stream_op(self, spark):
        from end_to_end_aws_data_pipeline_spark.streaming.ingest_stream import StreamingIngest

        self._stream_runs += 1
        wh = os.path.join(self.work_dir, f"stream_wh_{self._stream_runs}")
        cols, keys, _ = gen.ETL_TABLES[self.stream_table]
        schema = "cust_id long, name string, segment string, balance double"
        StreamingIngest(spark, self.stream_root, wh, schema, keys, self.stream_table).start()

        def check() -> bool:
            rows = spark.read.parquet(os.path.join(wh, self.stream_table)).select(*cols).collect()
            self.space_amp = _du(wh) / self.stream_live_bytes
            shutil.rmtree(wh)
            return {tuple(r) for r in rows} == self.stream_expected

        return check

    def pass_ops(self, spark, tracer, pass_no: int) -> list[Op]:
        ops = [Op(n, "query", lambda n=n: self._run_query(spark, tracer, n))
               for n in self.basket]
        ops.append(Op("stream_ingest", "stream", lambda: self._stream_op(spark)))
        random.Random(f"{self.seed}:{pass_no}").shuffle(ops)
        return ops

    def after_pass(self, spark, results: list[dict], pass_no: int) -> list[str]:
        """Re-run a seeded sample of the basket against the oracle
        results from ``prepare``: a query that turns wrong on a later
        run fails its timed ops in this pass. The warm-up pass (0) repeats
        the ops ``prepare`` has just checked, and is not checked again."""
        problems = []
        if pass_no == 0:
            return problems
        for name in random.Random(f"{self.seed}:{pass_no}:check").sample(self.basket,
                                                                            self.recheck):
            found = self._check(spark, name)
            if found:
                problems.append(f"{name}: {found[0]}")
                for r in results:
                    if r["name"] == name:
                        r["ok"] = False
        return problems


# --------------------------------------------------------------------------
# etl_increments
# --------------------------------------------------------------------------


class _Collect:
    """Notification sink that counts events by kind."""

    def __init__(self):
        self.counts = {"null_rows": 0, "success": 0}

    def __call__(self, event) -> None:
        self.counts[event.kind] = self.counts.get(event.kind, 0) + 1


class EtlIncrements:
    """The paper's pipeline: CSV deliveries through
    ``IngestPipeline.ingest_file`` with the reference schema policy. A
    pass copies the loaded snapshot warehouse and ingests every
    increment in folder order, with replays of loaded deliveries
    interleaved."""

    keys = {t: k for t, (_, k, _) in gen.ETL_TABLES.items() if k}
    partitions = {t: p for t, (_, _, p) in gen.ETL_TABLES.items() if p}

    def __init__(self, seed: int):
        self.seed = seed
        self.check_failures: list[str] = []
        self.check_s = 0.0  # the model comparison in prepare is negligible

    def generate(self, work_dir: str) -> None:
        self.work_dir = work_dir
        self.plan = gen.etl_plan(os.path.join(work_dir, "deliveries"), self.seed,
                                 base_rows=8_000, delta_rows=800, n_increments=2)
        self.base_wh = os.path.join(work_dir, "wh_base")
        self._n = 0

    def _pipeline(self, spark, wh: str, sink):
        from end_to_end_aws_data_pipeline_spark.ingest.pipeline import IngestPipeline

        return IngestPipeline(spark, wh, keys_by_table=self.keys, schema_policy="reference",
                              notifier=sink, partition_by_table=self.partitions)

    def prepare(self, spark) -> None:
        """Load the snapshot folder (untimed), which warms the ingest
        path; the warm-up pass that follows warms every merge form
        (partition-scoped, whole table, keyless). Each pass's final check
        covers these rows too."""
        self.base_model = gen.EtlModel()
        sink = _Collect()
        pipe = self._pipeline(spark, self.base_wh, sink)
        for d in self.plan.base:
            status = pipe.ingest_file(d.path).status
            if status != self.base_model.apply(d):
                self.check_failures.append(f"{d.folder}/{d.table}: status {status}")
        if sink.counts != self.base_model.events:
            self.check_failures.append(f"notifications {sink.counts} != {self.base_model.events}")

    def pass_ops(self, spark, tracer, pass_no: int) -> list[Op]:
        self._n += 1
        self.wh = os.path.join(self.work_dir, f"wh_pass_{self._n}")
        shutil.copytree(self.base_wh, self.wh)
        self.model = copy.deepcopy(self.base_model)
        self.sink = _Collect()
        self.sink.counts = dict(self.base_model.events)
        pipe = self._pipeline(spark, self.wh, self.sink)

        def run(d: gen.Delivery):
            status = pipe.ingest_file(d.path).status
            return lambda: status == self.model.apply(d)

        return [Op(f"{kind}:{d.folder}/{d.table}", kind, lambda d=d: run(d),
                   rows=len(d.rows) if kind == "load" else 0,
                   csv_bytes=d.csv_bytes if kind == "load" else 0)
                for kind, d in self.plan.ops]

    def after_pass(self, spark, results: list[dict], pass_no: int) -> list[str]:
        problems = self._check(spark)
        if problems:  # the warehouse is the product of the whole pass
            for r in results:
                r["ok"] = False
        self.space_amp = _du(self.wh) / self.model.live_csv_bytes()
        n_loads = sum(1 for kind, _ in self.plan.ops if kind == "load")
        sent = sum(self.sink.counts.values()) - sum(self.base_model.events.values())
        self.notify_per_load = sent / n_loads
        shutil.rmtree(self.wh)
        return problems

    def layer_extras(self, untraced_passes: list[dict]) -> dict[str, float]:
        """The ETL-only user-facing numbers, from the untraced passes."""
        rows = sum(r["rows"] for p in untraced_passes for r in p["ops"])
        wall = sum(p["wall_s"] for p in untraced_passes)
        skips = sorted(r["wall_s"] for p in untraced_passes for r in p["ops"]
                       if r["kind"] == "replay")
        return {
            "ingest.rows_per_s": rows / wall if wall else 0.0,
            "ingest.skip_p50_s": statistics.median(skips) if skips else 0.0,
            "ingest.notify_events": self.notify_per_load,
        }

    def _check(self, spark) -> list[str]:
        """The pass's warehouse, watermarks and notifications against the
        model."""
        from end_to_end_aws_data_pipeline_spark.ingest.watermark import WatermarkStore

        wh, model, sink = self.wh, self.model, self.sink
        problems = []
        for t, (cols, _, _) in gen.ETL_TABLES.items():
            rows = spark.read.parquet(os.path.join(wh, t)).select(*cols).collect()
            got = [tuple(r) for r in rows]
            if len(got) != len(set(got)) or set(got) != model.rows(t):
                problems.append(f"table {t}: {len(got)} rows differ from the model's "
                                f"{len(model.rows(t))}")
        wms = {r.table_name: r.folder_ts
               for r in WatermarkStore(spark, os.path.join(wh, "_ingest_watermarks")).read().collect()}
        if wms != model.watermarks:
            problems.append(f"watermarks {wms} != {model.watermarks}")
        if sink.counts != model.events:
            problems.append(f"notifications {sink.counts} != {model.events}")
        return problems


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


WORKLOADS = {
    "etl_increments": EtlIncrements,
    "driver_loops": DriverLoops,
}

