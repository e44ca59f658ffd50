"""Benchmark CLI: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload driver_loops --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``perfbench/.work/`` (removed at exit), starts Spark on
``local[<cores>]``, warms up while checking every op's output and runs
one untimed warm-up pass, then issues timed ops one after another for
at least ``--seconds`` (whole passes). The last stdout line is one JSON
object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` records
spans and reports the per-layer ledger. A detail artifact (per-op
ledger, spans, load and pressure stamps) goes to ``perfbench/out/``.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "end_to_end_aws_data_pipeline_spark"
COUNTERS = ("jobs", "stages", "tasks", "input_bytes", "output_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def stamps() -> dict:
    """Load average and kernel pressure now, read the way ``bench.py``
    reads them, and the CPU tick counters, so a run made in a hot window
    shows it."""
    from bench import _loadavg, _psi

    ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    return {"t": time.time(), "loadavg": _loadavg(), "psi": _psi(), "cpu_ticks": ticks}


def steal_frac(first: dict, last: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    stamps (the 8th ``cpu`` field of /proc/stat)."""
    d = [b - a for a, b in zip(first["cpu_ticks"], last["cpu_ticks"])]
    return d[7] / sum(d) if sum(d) else 0.0


class RssSampler:
    """Peak resident memory of the Python driver plus the JVM, sampled
    from /proc from its start until ``close``."""

    def __init__(self, pids: list[int], period_s: float = 0.2):
        self.pids, self.period_s = pids, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _rss(self) -> int:
        total = 0
        for pid in self.pids:
            try:
                total += int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak = max(self.peak, self._rss())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def cpu_s(pid: int) -> dict[str, float]:
    """User plus system CPU seconds used so far by process ``pid`` (its
    ended threads included), and by its JIT compiler threads, from
    /proc/<pid>/stat and /proc/<pid>/task/*/stat. The JVM runs with a
    fixed set of compiler threads, so none of them ends and takes its
    count along."""
    def ticks(path: str) -> tuple[str, int]:
        text = Path(path).read_text()
        fields = text.rsplit(")", 1)[1].split()
        return text[text.index("(") + 1:text.rindex(")")], int(fields[11]) + int(fields[12])

    tck = os.sysconf("SC_CLK_TCK")
    out = {"total": 0.0, "jit": 0.0}
    try:
        out["total"] = ticks(f"/proc/{pid}/stat")[1] / tck
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            name, n = ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # the thread has ended
            continue
        if "Compiler" in name:
            out["jit"] += n / tck
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


# --------------------------------------------------------------------------
# per-op ledger
# --------------------------------------------------------------------------


def op_record(tracer, op_span, op, cores: int) -> dict:
    """Per-op numbers from the op's span subtree (layer spans plus the
    job and stage spans adopted from the status store)."""
    from ledger import clip, self_time, union_s

    sub = tracer.subtree(op_span)
    jobs = [s for s in sub if s["name"] == "job"]
    children = [s for s in sub if s["parent"] == op_span["id"] and s["name"] != "job"]

    def jobs_in(span):
        ids = {s["id"] for s in tracer.subtree(span)}
        return [j for j in jobs if j["parent"] in ids]

    def iv(js):
        return [(j["t0"], j["t1"]) for j in js]

    wall = op_span["t1"] - op_span["t0"]
    all_union = union_s(clip(iv(jobs), op_span["t0"], op_span["t1"]))
    rec = {"name": op.name, "kind": op.kind, "wall_s": wall, "jobs_total": len(jobs),
           "driver_gap_s": wall - all_union,
           "job_overlap_s": sum(t1 - t0 for t0, t1 in iv(jobs)) - union_s(iv(jobs)),
           "rows": op.rows, "csv_bytes": op.csv_bytes, "layers": {}}
    for c in children:
        rec["layers"].setdefault(c["name"], 0.0)
        rec["layers"][c["name"]] += c["t1"] - c["t0"]
        if c["name"] == "cache.release":
            rec["cache_entries"] = c.get("entries", 0)
    build = next((c for c in children if c["name"] == "build"), None)
    if build is not None:
        bj = jobs_in(build)
        rec["build"] = {"s": build["t1"] - build["t0"], "jobs": len(bj),
                        "job_s": union_s(clip(iv(bj), build["t0"], build["t1"])),
                        "self_s": self_time(build, bj)}
    # the measured execution: the returned plan's write for a query, the
    # whole op for deliveries and streams
    scope = next((c for c in children if c["name"] == "exec"), op_span)
    ej = jobs_in(scope)
    ex = {"s": scope["t1"] - scope["t0"], "jobs": len(ej),
          "stages": sum(j["n_stages"] for j in ej),
          "union_s": union_s(clip(iv(ej), scope["t0"], scope["t1"]))}
    for k in ("tasks", "failed_tasks", "executor_run_ms", "gc_ms", "input_bytes",
              "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        ex[k] = sum(j[k] for j in ej)
    ex["executor_run_s"] = ex.pop("executor_run_ms") / 1000.0
    ex["gc_s"] = ex.pop("gc_ms") / 1000.0
    ex["cores"] = cores
    rec["exec"] = ex
    rec["counters"] = {"jobs": len(jobs), "stages": sum(j["n_stages"] for j in jobs),
                       **{k: sum(j[k] for j in jobs) for k in COUNTERS[2:]}}
    return rec


def layer_metrics(recs: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics: per-op means over the traced ops they apply to."""
    q = [r for r in recs if r["kind"] == "query"]
    scoped = [r for r in recs if r["kind"] in ("query", "load", "stream")]
    loads = [r for r in recs if r["kind"] == "load"]
    deliveries = [r for r in recs if r["kind"] in ("load", "replay")]
    streams = [r for r in recs if r["kind"] == "stream"]
    m: dict[str, float] = {}

    m["operators.build_s"] = _mean([r["build"]["s"] for r in q])
    m["operators.build_jobs"] = _mean([r["build"]["jobs"] for r in q])
    m["operators.build_job_s"] = _mean([r["build"]["job_s"] for r in q])
    m["operators.build_self_s"] = _mean([r["build"]["self_s"] for r in q])

    ex = [r["exec"] for r in scoped]
    m["spark.exec_s"] = _mean([e["s"] for e in ex])
    for k in ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "input_bytes",
              "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "failed_tasks"):
        m[f"spark.{k}"] = _mean([e[k] for e in ex])
    m["spark.driver_gap_s"] = _mean([r["driver_gap_s"] for r in scoped])
    busy = sum(e["union_s"] for e in ex) * cores
    m["spark.slot_idle_frac"] = 1.0 - sum(e["executor_run_s"] for e in ex) / busy if busy else 0.0
    m["spark.job_overlap_s"] = _mean([r["job_overlap_s"] for r in scoped])

    m["cache.release_s"] = _mean([r["layers"].get("cache.release", 0.0) for r in q])
    m["cache.entries_released"] = _mean([r.get("cache_entries", 0) for r in q])

    m["ingest.gate_s"] = _mean([r["layers"].get("ingest.gate", 0.0) for r in deliveries])
    for stage in ("infer", "audit", "merge", "watermark"):
        m[f"ingest.{stage}_s"] = _mean([r["layers"].get(f"ingest.{stage}", 0.0) for r in loads])
    m["ingest.jobs_per_delivery"] = _mean([r["jobs_total"] for r in loads])
    csv_bytes = sum(r["csv_bytes"] for r in loads)
    m["ingest.write_amp"] = sum(r["exec"]["output_bytes"] for r in loads) / csv_bytes if csv_bytes else 0.0
    m["ingest.read_amp"] = sum(r["exec"]["input_bytes"] for r in loads) / csv_bytes if csv_bytes else 0.0
    m["ingest.files_written"] = _mean([r.get("files_written", 0) for r in loads])

    m["streaming.build_s"] = _mean([r["wall_s"] for r in streams])
    m["streaming.jobs"] = _mean([r["jobs_total"] for r in streams])
    m["streaming.output_bytes"] = _mean([r["exec"]["output_bytes"] for r in streams])
    return m


def repeat_report(passes: list[list[dict]]) -> tuple[float, list[str]]:
    """Share of (op, counter) pairs that read the same in every traced
    pass, and the ones that did not."""
    seen: dict[tuple[str, str], list] = {}
    for recs in passes:
        for r in recs:
            for k, v in r["counters"].items():
                seen.setdefault((r["name"], k), []).append(v)
    pairs = {key: vals for key, vals in seen.items() if len(vals) > 1}
    drift = [f"{n}.{k}: {vals}" for (n, k), vals in sorted(pairs.items()) if len(set(vals)) > 1]
    return (1.0 - len(drift) / len(pairs) if pairs else 1.0), drift


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


def instrument(tracer) -> None:
    """Wrap the ingest stages at their ``ingest.pipeline`` import site, so
    the data-table merge and the watermark store's own merge stay apart."""
    from end_to_end_aws_data_pipeline_spark.ingest import pipeline

    pipeline.read_csv_with_inferred_schema = tracer.wrap(
        "ingest.infer", pipeline.read_csv_with_inferred_schema)
    pipeline.null_audit = tracer.wrap("ingest.audit", pipeline.null_audit)
    pipeline.merge_into_parquet = tracer.wrap("ingest.merge", pipeline.merge_into_parquet)
    store = pipeline.WatermarkStore
    store.get = tracer.wrap("ingest.gate", store.get)
    store.advance = tracer.wrap("ingest.watermark", store.advance)


def _attach_ledger(tracer, ledger, sp, op, cores, res) -> None:
    """Adopt the op's jobs (and their stages) as child spans and derive
    its ledger record."""
    for js in tracer.adopt(sp, ledger.drain(), "job"):
        stages = [st for st in js.pop("stages") if st["t0"] is not None]
        tracer.adopt(js, stages, "stage")
    res["ledger"] = op_record(tracer, sp, op, cores)


def files_since(path: str, t0: float) -> int:
    return sum(1 for d, _, files in os.walk(path) for f in files
               if os.path.getmtime(os.path.join(d, f)) >= t0)


def run(args) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout, and no /tmp/hsperfdata_* monitoring file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}"]))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # a fixed-size heap (-Xms = -Xmx), touched whole at start, keeps
    # resident memory from depending on the JVM's heap-resizing decisions
    # and on how much of the young generation the collector has cycled
    # through (without it, two runs in ten read 500 MB lower)
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    art = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "cores": cores, "stamps": [stamps()]}
    try:
        wl = WORKLOADS[args.workload](args.seed)
        t = time.perf_counter()
        wl.generate(str(work))
        gen_s = time.perf_counter() - t
        log(f"inputs generated in {gen_s:.1f} s")
        return _measure(args, wl, work, cores, gen_s, heap, art)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, wl, work, cores, gen_s, heap, art) -> tuple[dict, dict]:
    from ledger import StatusLedger, Tracer

    # ---- set-up: session (JVM launch included), registry, warm-up and
    # warm-up pass. It ends at the first timed op; generating the inputs,
    # waiting for the correctness oracles and checking are not part of it
    t0 = time.perf_counter()
    from end_to_end_aws_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    })
    t1 = time.perf_counter()
    from end_to_end_aws_data_pipeline_spark import registry

    wl.qs = registry.queries()
    t2 = time.perf_counter()
    tracer = Tracer()
    instrument(tracer)
    jvm_pid = spark.sparkContext._gateway.proc.pid
    rss = RssSampler([os.getpid(), jvm_pid])
    wl.prepare(spark)
    if wl.check_failures:
        log(f"correctness check failed: {wl.check_failures}")
    ledger = StatusLedger(spark)

    def one_pass(pass_no: int, traced: bool) -> dict:
        if traced:
            ledger.drain()  # drop jobs of untimed or untraced work
        tracer.on = traced
        ops = wl.pass_ops(spark, tracer, pass_no)
        results = []
        k0 = stamps()
        jit_s = 0.0
        for op in ops:
            res = {"name": op.name, "kind": op.kind, "rows": op.rows, "ok": False}
            c0 = [cpu_s(pid) for pid in rss.pids]
            o0 = time.perf_counter()
            e0 = time.time()
            out, sp = None, None
            try:
                with tracer.span("op", op=op.name, kind=op.kind) as sp:
                    out = op.run()
                res["done"] = True
            except Exception as e:  # an op that raises counts as failed
                res["done"] = False
                res["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                log(f"op {op.name} failed: {res['error']}")
            res["wall_s"] = time.perf_counter() - o0
            c1 = [cpu_s(pid) for pid in rss.pids]
            jit_s += sum(b["jit"] - a["jit"] for a, b in zip(c0, c1))
            # JIT compilation is the JVM still warming up, not work an op
            # asks for: it is reported, and left out of the op's CPU
            res["cpu_s"] = sum(b["total"] - b["jit"] - a["total"] + a["jit"]
                               for a, b in zip(c0, c1))
            if sp is not None:
                _attach_ledger(tracer, ledger, sp, op, cores, res)
                if op.kind == "load":
                    res["ledger"]["files_written"] = files_since(wl.wh, e0)
            if res["done"]:
                try:
                    res["ok"] = bool(out() if callable(out) else out)
                except Exception as e:
                    res["error"] = f"check: {type(e).__name__}: {str(e)[:300]}"
            results.append(res)
        # the ops' own time: reading a result back to check it, and the
        # ledger's bookkeeping, fall between ops and are not counted
        pass_wall = sum(r["wall_s"] for r in results)
        pass_cpu = sum(r["cpu_s"] for r in results)
        pass_steal = steal_frac(k0, stamps())
        tracer.on = False
        t = time.perf_counter()
        problems = wl.after_pass(spark, results, pass_no)
        check_s = time.perf_counter() - t
        if problems:
            log(f"pass {pass_no} check failed: {problems}")
        log(f"pass {pass_no} ({'traced' if traced else 'untraced'}"
            f"{'' if pass_no else ', warm-up'}): {len(results)} ops in {pass_wall:.2f} s, "
            f"CPU {pass_cpu:.1f} s + JIT {jit_s:.1f} s, "
            f"steal {pass_steal:.1%}")
        return {"traced": traced, "wall_s": pass_wall, "cpu_s": pass_cpu,
                "steal_frac": pass_steal, "jit_cpu_s": jit_s, "check_s": check_s,
                "ops": results, "problems": problems}

    # the warm-up pass: the timed ops once more, untimed, on a JVM that
    # has run each of them once. The first pass after a cold run is still
    # 20-30% slower than the next (JIT and generated code) and its length
    # varies from run to run; it is part of set-up. Its checks are not.
    warm = one_pass(0, traced=False)
    if not all(r["ok"] for r in warm["ops"]) or warm["problems"]:
        wl.check_failures.append(f"warm-up pass: {warm['problems'] or 'an op failed'}")
    t3 = time.perf_counter()
    check_s = wl.check_s + warm["check_s"]
    setup = {"setup_s": t3 - T_PROCESS - gen_s - check_s, "session_s": t1 - t0,
             "registry_s": t2 - t1, "warmup_s": t3 - t2 - check_s,
             "warm_pass_s": warm["wall_s"], "check_s": check_s}
    art["setup"] = setup
    art["warm_pass"] = warm
    log("set-up {setup_s:.2f} s (session {session_s:.2f}, registry {registry_s:.2f}, "
        "warm-up {warmup_s:.2f} with a warm pass of {warm_pass_s:.2f}; oracle wait "
        "and comparison {check_s:.2f} not counted)".format(**setup))

    # untraced: whole passes until --seconds have gone by. Traced: three
    # passes, traced, untraced, traced; two traced passes show whether
    # each count repeats, the untraced one gives the tracing overhead
    passes = []
    pass_no = 1
    t_timed = time.perf_counter()
    while (pass_no <= 3 if args.trace
           else pass_no == 1 or time.perf_counter() - t_timed < args.seconds):
        passes.append(one_pass(pass_no, traced=bool(args.trace) and pass_no != 2))
        pass_no += 1
    rss.close()

    art["passes"] = passes
    art["check_failures"] = wl.check_failures
    all_ops = [r for p in passes for r in p["ops"]]
    failed = sum(1 for r in all_ops if not r["ok"])
    correct = failed == 0 and not wl.check_failures

    untraced = [p for p in passes if not p["traced"]]

    # a replayed delivery only meets the watermark gate: it is timed as
    # ingest.skip_p50_s, not as an op; its wall and CPU count
    def n_ops(ps):
        return sum(1 for p in ps for r in p["ops"] if r["done"] and r["kind"] != "replay")

    def rate(ps):
        wall = sum(p["wall_s"] for p in ps)
        return n_ops(ps) / wall if wall else 0.0

    def cpu_per_op(ps):
        n = n_ops(ps)
        return sum(p["cpu_s"] for p in ps) / n if n else 0.0

    # median op latency: kept out of the end-to-end set, because on a
    # shared VM it rests on one or two ops of a pass and read too unsteady
    # across runs
    art["op_p50_s"] = _median([r["wall_s"] for p in untraced for r in p["ops"]
                               if r["kind"] != "replay"])
    art["ops_per_s"] = rate(untraced)
    log(f"median op latency {art['op_p50_s']:.3f} s, {art['ops_per_s']:.3f} ops/s, "
        f"{cpu_per_op(untraced):.3f} CPU s per op")
    if not args.trace:
        # engine CPU per op, not wall throughput, is the end-to-end cost:
        # on a VM whose host takes back up to 14% of its CPU time the same
        # timed etl_increments pass took 10.0 to 16.0 s, and 8.8 to 10.7
        # CPU seconds
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "cpu_s_per_op": (cpu_per_op(untraced), "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
        }
        if hasattr(wl, "space_amp"):  # workloads that write a table
            metrics["space_amp"] = (wl.space_amp, "ratio")
    else:
        traced = [p for p in passes if p["traced"]]
        recs = [r["ledger"] for p in traced for r in p["ops"] if "ledger" in r]
        lm = layer_metrics(recs, cores)
        lm["session.start_s"] = setup["session_s"]
        lm["registry.load_s"] = setup["registry_s"]
        lm["setup.warmup_s"] = setup["warmup_s"]
        repeat, drift = repeat_report([[r["ledger"] for r in p["ops"] if "ledger" in r]
                                       for p in traced])
        art["count_drift"] = drift
        if drift:
            log(f"counts that did not repeat across traced passes: {drift}")
        lm["ledger.repeat_frac"] = repeat
        t_rate, u_rate = rate(traced), rate(untraced)
        lm["op.p50_s"] = art["op_p50_s"]
        lm["op.ops_per_s"] = u_rate
        lm["host.steal_frac"] = _mean([p["steal_frac"] for p in passes])
        lm["trace.ops_per_s"] = t_rate
        lm["trace.overhead_frac"] = 1.0 - t_rate / u_rate if u_rate else 0.0
        lm["trace.spans"] = float(len(tracer.spans))
        lm.update(wl.layer_extras(untraced) if hasattr(wl, "layer_extras") else {})
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        metrics = {m["name"]: (lm.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
        art["spans"] = tracer.spans

    t = time.perf_counter()
    spark.stop()
    # the gateway JVM exits when its stdin closes; wait for it, so no
    # process of this run outlives it
    gateway = spark.sparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    log(f"stopped in {time.perf_counter() - t:.2f} s")
    art["stamps"].append(stamps())
    art["steal_frac"] = steal_frac(art["stamps"][0], art["stamps"][-1])
    log(f"CPU steal during the run: {art['steal_frac']:.1%}")
    return {
        "correct": correct,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }, art


def main() -> int:
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / PKG / "__init__.py").is_file():
        log(f"no {PKG}/ package next to {HERE.name}/: run from a full checkout")
        return 2
    try:
        result, art = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    out = HERE / "out"
    out.mkdir(exist_ok=True)
    with open(out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as fh:
        json.dump({**art, "result": result}, fh, default=str)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
