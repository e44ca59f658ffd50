"""Strictly interleaved A/B pairs in ONE Spark session — the round-12
measurement protocol (this VM shows ambient hot windows that fabricate
up to 2x sequential A-then-B deltas; only interleaved pairs count).

Two modes:

  # compare two QUERIES (same code):
  python tools/ab_pairs.py q_stream_pattern_quantified \
      q_stream_pattern_alternation [n_pairs]

  # compare two VARIANTS of one query via an env flag the code reads
  # per call (e.g. SPARK_GRAFT_NO_JOB_OVERLAP, SPARK_GRAFT_EAGER_CKPT):
  python tools/ab_pairs.py --flag SPARK_GRAFT_NO_JOB_OVERLAP \
      q_ann_ivf_trained [n_pairs]
  (A = flag SET (old behavior), B = flag unset (new behavior))

Methodology mirrors bench.py exactly: timed region = query build + noop
sink; release_all() after each rep, untimed. Both variants are warmed
once before pairing. Prints every pair plus min/median per side and the
loadavg/PSI stamps.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _stamp() -> dict:
    out: dict = {}
    try:
        out["loadavg"] = [
            float(x)
            for x in open("/proc/loadavg").read().split()[:3]
        ]
    except OSError:
        pass
    try:
        for line in open("/proc/pressure/cpu"):
            if line.startswith("some"):
                out["psi_cpu_some_avg10"] = float(
                    line.split("avg10=")[1].split()[0]
                )
    except OSError:
        pass
    return out


def main() -> int:
    args = sys.argv[1:]
    flag = None
    if args and args[0] == "--flag":
        flag = args[1]
        args = args[2:]
    if not args:
        print(__doc__, file=sys.stderr)
        return 2
    if flag:
        qa = qb = args[0]
        n_pairs = int(args[1]) if len(args) > 1 else 5
        la, lb = f"{qa}[{flag}=1]", f"{qb}[new]"
    else:
        if len(args) < 2:
            print(__doc__, file=sys.stderr)
            return 2
        qa, qb = args[0], args[1]
        n_pairs = int(args[2]) if len(args) > 2 else 5
        la, lb = qa, qb

    import __spark_entry__ as ent
    from end_to_end_aws_data_pipeline_spark.cache import release_all
    from end_to_end_aws_data_pipeline_spark.session import get_spark

    spark = get_spark("ab-pairs")
    qs = ent.queries()
    for name in {qa, qb}:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2

    def run(name: str, flag_on: bool) -> float:
        if flag:
            if flag_on:
                os.environ[flag] = "1"
            else:
                os.environ.pop(flag, None)
        spark.sparkContext.setJobDescription(
            f"ab:{name}{'[A]' if flag_on else '[B]'}"
        )
        t0 = time.perf_counter()
        df = qs[name](spark, SF)
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            df.count()
        dt = time.perf_counter() - t0
        release_all()
        return dt

    print(json.dumps({"start": _stamp()}), flush=True)
    wa = run(qa, True)
    wb = run(qb, False)
    print(f"warm: {la}={wa:.3f}s {lb}={wb:.3f}s", flush=True)
    pa, pb = [], []
    for i in range(n_pairs):
        a = run(qa, True)
        b = run(qb, False)
        pa.append(a)
        pb.append(b)
        print(f"pair {i}: {la}={a:.3f}s {lb}={b:.3f}s", flush=True)
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    print(
        json.dumps(
            {
                "A": la,
                "B": lb,
                "pairs": [[round(a, 3), round(b, 3)] for a, b in zip(pa, pb)],
                "min": [round(min(pa), 3), round(min(pb), 3)],
                "median": [round(med(pa), 3), round(med(pb), 3)],
                "b_faster_pairs": sum(1 for a, b in zip(pa, pb) if b < a),
                "end": _stamp(),
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
