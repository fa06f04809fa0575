#!/usr/bin/env python
"""Repeatability reads for declared/bench queries — r13 session tooling.

Usage: python tools/ab_queries.py QUERY [QUERY ...] [--trials N]

Runs each named query ``--trials`` times round-robin with the bench
harness's noop-sink methodology and prints min/med per query. For
true A/B between two CODE variants, monkeypatch the module flag inside
one session instead — cross-session comparisons are untrustworthy on a
shared host.
"""

from __future__ import annotations

import argparse
import gc
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--trials", type=int, default=4)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    import __spark_entry__ as ent
    from bench import _bench_only_queries
    from reflexiv_spark.session import get_spark

    spark = get_spark(app_name="reflexiv-ab")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**ent.queries(), **_bench_only_queries()}
    # warmup at sf0.001 like the bench
    for name in args.queries:
        df = qs[name](spark, "/root/testdata/sf0.001")
        df.write.format("noop").mode("overwrite").save()
    out: dict[str, list[float]] = {n: [] for n in args.queries}
    for t in range(args.trials):
        for name in args.queries:
            gc.collect()
            spark.sparkContext.setJobDescription(f"ab:{name}:{t}")
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            out[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    for name, xs in out.items():
        print(name, "min", min(xs), "med", sorted(xs)[len(xs) // 2], xs)


if __name__ == "__main__":
    main()
