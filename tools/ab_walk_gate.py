#!/usr/bin/env python
"""Interleaved A/B of the one-task path against the shuffle path.

Under ``extension._LOOP_BCAST_BYTES`` a packed pipeline's rung runs in
one partition (expand, prune, the ``walk_nodes`` walk and the final
aggregates, no Exchange) and junction fixing runs in one task; above it
they run the multi-partition plans and the ``walk_paths`` shuffle walk.
This script times both on the same synthetic fork-free input by forcing
the gate open (``1 << 62``) or shut (``-1``), alternating the arm that
runs first, and checks that both arms give the same contigs before any
timing is reported.

Workloads (each a size in rows):

* ``rung``: ``assemble_from_packed_counts`` (``--k`` ≤ 31) or
  ``assemble_from_blocks_counts`` (``--k`` > 31) from canonical counts
  to contigs, over ``--paths`` random segments; rows are canonical
  k-mers, and the gate measures both strands: 2 × rows × 64 B at k ≤ 31,
  2 × rows × 80 B at k = 41, so the gate's top is 524,288 rows at k=31;
* ``fixing``: ``fix_junctions`` over chains of ``--contig-len``-base
  contigs that overlap by 31 bases (64 B + 2 × contig length per row).

The input is checkpointed before timing, so a run times the rung or fix
only (noop sink). Sessions match the benchmark's: ``local[4]``, 4
shuffle partitions.

Usage: python tools/ab_walk_gate.py [--runs 3] [--paths 1000] [--k 31]
           [--contig-len 500] rung:131072 rung:524288 fixing:60000
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

ARMS = {"local": 1 << 62, "shuffle": -1}


def _segments(n_seg: int, seg_len: int, seed: int) -> list[str]:
    import numpy as np

    rng = np.random.default_rng(seed)
    codes = rng.integers(0, 4, size=(n_seg, seg_len), dtype=np.uint8)
    lut = np.frombuffer(b"ACGT", dtype=np.uint8)
    return [lut[row].tobytes().decode() for row in codes]


def _counts(spark, rows: int, n_paths: int, k: int, codec):
    """``rows`` distinct canonical k-mers of random segments, count 1."""
    from pyspark.sql import functions as F

    per_path = max(1, rows // n_paths)
    segs = _segments(n_paths, per_path + k - 1, seed=rows)
    df = spark.createDataFrame([(s,) for s in segs], "s string").repartition(4)
    km = df.select(
        F.explode(
            F.expr(f"transform(sequence(1, length(s) - {k - 1}), i -> substring(s, i, {k}))")
        ).alias("kmer")
    )
    canon = F.least("kmer", F.translate(F.reverse("kmer"), "ACGT", "TGCA"))
    return (
        km.select(codec.encode(canon, k).alias("kid"))
        .groupBy("kid")
        .agg(F.count(F.lit(1)).alias("count"))
        .localCheckpoint(eager=True)
    )


def _contigs(spark, rows: int, contig_len: int, fix_k: int = 31):
    # chains of 50 contigs: contig i's last fix_k bases open contig i + 1
    step = contig_len - fix_k
    chain = 50
    n_chains = max(1, rows // chain)
    genomes = _segments(n_chains, step * chain + fix_k, seed=rows)
    seqs = [
        (g[i * step : i * step + contig_len],)
        for g in genomes
        for i in range(chain)
    ]
    return spark.createDataFrame(seqs, "seq string").repartition(4).localCheckpoint(
        eager=True
    )


def _job(spark, workload: str, rows: int, args):
    from reflexiv_spark.operators._codec import codec_for
    from reflexiv_spark.operators.fixing import fix_junctions
    from reflexiv_spark.pipelines import assemble

    if workload == "rung":
        codec = codec_for(args.k, packed=True)
        counts = _counts(spark, rows, args.paths, args.k, codec)
        rung = codec.public(assemble, "assemble_from{}_counts")
        return lambda: rung(counts, args.k, min_contig=args.k + 1, input_canonical=True)
    if workload == "fixing":
        cs = _contigs(spark, rows, args.contig_len)
        return lambda: fix_junctions(cs)
    raise SystemExit(f"unknown workload {workload!r}")


def _digest(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    n, h = df.agg(
        F.count(F.lit(1)), F.coalesce(F.bit_xor(F.xxhash64("seq")), F.lit(0))
    ).first()
    return n, h


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--paths", type=int, default=1000)
    ap.add_argument("--k", type=int, default=31)
    ap.add_argument("--contig-len", type=int, default=500)
    ap.add_argument("cases", nargs="+", help="workload:rows")
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    from reflexiv_spark import get_spark
    from reflexiv_spark.operators import extension as ext

    spark = get_spark(app_name="ab-walk-gate", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    for case in args.cases:
        workload, rows = case.split(":")
        run = _job(spark, workload, int(rows), args)
        digests = {}
        for arm, gate in ARMS.items():  # warm-up + equality check
            ext._LOOP_BCAST_BYTES = gate
            digests[arm] = _digest(run())
        if digests["local"] != digests["shuffle"]:
            raise SystemExit(f"{case}: arms disagree {digests}")
        times = {arm: [] for arm in ARMS}
        for r in range(args.runs):
            order = list(ARMS) if r % 2 == 0 else list(ARMS)[::-1]
            for arm in order:
                ext._LOOP_BCAST_BYTES = ARMS[arm]
                gc.collect()
                t0 = time.perf_counter()
                run().write.format("noop").mode("overwrite").save()
                times[arm].append(round(time.perf_counter() - t0, 2))
                print(f"{case} {arm}: {times[arm][-1]} s", file=sys.stderr)
        rec = {"case": case, "contigs": digests["local"][0]}
        rec.update({f"{arm}_s": times[arm] for arm in ARMS})
        print(json.dumps(rec), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
