"""Isolated re-timing + plan capture for optimization work (guide §1).

Usage:
    python tools/retime.py [--runs N] [--plans DIR] [--sf DIR] query [query ...]

Times each named query N times (default 3) with the noop sink on one
warm session (bench.py's warm-up), prints per-run seconds + the
median, and optionally writes ``<query>.txt`` files with
``.explain(formatted)`` output into --plans DIR.  A `control` pseudo-run
of q1_pricing_summary brackets the list so ambient-host swings are
visible in the same session.
"""

from __future__ import annotations

import argparse
import io
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warm_up  # noqa: E402
from eecs485_p4_mapreduce_spark import get_spark  # noqa: E402
from eecs485_p4_mapreduce_spark.plans import REGISTRY  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-control", action="store_true")
    args = ap.parse_args()

    spark = get_spark("spark-graft-retime")
    spark.sparkContext.setLogLevel("ERROR")

    def run_once(name: str) -> float:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"retime:{name}")
        t0 = time.time()
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        return dt

    warm_up(spark, args.sf)

    names = list(args.queries)
    if not args.no_control and "q1_pricing_summary" not in names:
        names = ["q1_pricing_summary"] + names + ["q1_pricing_summary"]

    for name in names:
        if name not in REGISTRY:
            print(f"!! unknown query: {name}")
            continue
        rs = [run_once(name) for _ in range(args.runs)]
        # statistics.median averages the middle pair on even --runs;
        # the old upper-middle pick biased even-run medians upward.
        med = statistics.median(rs)
        print(
            f"{name:45s} med={med:7.3f}  runs=" + " ".join(f"{r:.3f}" for r in rs),
            flush=True,
        )
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = REGISTRY[name].fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())


if __name__ == "__main__":
    main()
