"""Strictly interleaved A/B pairs in ONE Spark session — the round-12
measurement protocol (this VM shows ambient hot windows that fabricate
up to 2x sequential A-then-B deltas; only interleaved pairs count).

Compare two queries (same code):

  python tools/ab_pairs.py q_stream_pattern_quantified \
      q_stream_pattern_alternation [n_pairs]

To compare two versions of the code, run each from its own checkout.

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
    if len(args) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    qa, qb = args[0], args[1]
    n_pairs = int(args[2]) if len(args) > 2 else 5

    import __spark_entry__ as ent
    from end_to_end_aws_data_pipeline_spark.cache import release_all
    from end_to_end_aws_data_pipeline_spark.session import get_spark

    spark = get_spark("ab-pairs")
    qs = ent.queries()
    for name in {qa, qb}:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2

    def run(name: str, side: str) -> float:
        spark.sparkContext.setJobDescription(f"ab:{name}[{side}]")
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
    wa = run(qa, "A")
    wb = run(qb, "B")
    print(f"warm: {qa}={wa:.3f}s {qb}={wb:.3f}s", flush=True)
    pa, pb = [], []
    for i in range(n_pairs):
        a = run(qa, "A")
        b = run(qb, "B")
        pa.append(a)
        pb.append(b)
        print(f"pair {i}: {qa}={a:.3f}s {qb}={b:.3f}s", flush=True)
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    print(
        json.dumps(
            {
                "A": qa,
                "B": qb,
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
