#!/usr/bin/env python
"""Measure wall clock + total shuffle read/write bytes of the
count→expand→prune→rank assembly pipeline in three representations:
``string`` (ASCII k-mers everywhere), ``loop_packed`` (strings up to the
loop, rank_paths auto-packs internally), and ``fully_packed`` (2-bit ids
from the counter onward, one decode at assembly — int64 ids for k ≤ 31,
long-block arrays above, the codec picked by k). Sums per-stage shuffle
metrics from the live Spark UI REST API between two marks, so only the
measured section counts; best-of-2 alternating runs for JIT fairness.

Usage: python tools/measure_shuffle.py [sf_dir] [k]   (default k=15)
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 15


def _stages(ui: str):
    with urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=10) as r:
        app = json.load(r)[0]["id"]
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=30
    ) as r:
        return json.load(r)


def _totals(ui: str):
    w = r = 0
    ids = set()
    for s in _stages(ui):
        w += s.get("shuffleWriteBytes", 0)
        r += s.get("shuffleReadBytes", 0)
        ids.add((s["stageId"], s["attemptId"]))
    return w, r, ids


def main():
    from pyspark.sql import SparkSession

    from reflexiv_spark.operators import extension
    from reflexiv_spark.operators._codec import codec_for
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.operators.extension import rank_paths
    from reflexiv_spark.pipelines import assemble
    from reflexiv_spark.pipelines.assemble import expand_orientations, prune_forks
    from __spark_entry__ import _dna

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedStages", "5000")
        .getOrCreate()
    )
    ui = f"http://localhost:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[1]}"
    k = K
    codec = codec_for(k, packed=True)
    dna = _dna(spark, SF_DIR).localCheckpoint(eager=True)
    n = dna.count()

    def string_pipeline():
        counts = count_kmers(dna, k, min_coverage=2)
        pruned = prune_forks(expand_orientations(counts), k)
        return rank_paths(pruned.select("kmer", "count"), k, packed=False)

    def loop_packed():
        # strings up to the loop; rank_paths auto-packs internally
        counts = count_kmers(dna, k, min_coverage=2)
        pruned = prune_forks(expand_orientations(counts), k)
        return rank_paths(pruned.select("kmer", "count"), k, packed=True)

    def fully_packed():
        counts = codec.count(dna, k, min_coverage=2)
        expanded = codec.public(assemble, "expand_orientations{}")(counts, k)
        pruned = codec.public(assemble, "prune_forks{}")(expanded, k)
        return codec.public(extension, "rank_paths{}")(
            pruned.select("kid", "count"), k
        )

    variants = {
        "string": string_pipeline,
        "loop_packed": loop_packed,
        "fully_packed": fully_packed,
    }
    out = {}
    # alternate order, keep the best-of-2 wall clock (JIT/warmup fairness)
    order = list(variants) + list(reversed(list(variants)))
    for label in order:
        w0, r0, _ = _totals(ui)
        t0 = time.time()
        rows = variants[label]().count()
        dt = time.time() - t0
        time.sleep(2)  # let the UI ingest the final stage metrics
        w1, r1, _ = _totals(ui)
        cur = {
            "rows": rows,
            "sec": round(dt, 2),
            "shuffle_write_mb": round((w1 - w0) / 1e6, 2),
            "shuffle_read_mb": round((r1 - r0) / 1e6, 2),
        }
        if label not in out or cur["sec"] < out[label]["sec"]:
            out[label] = cur
    out["k"] = k
    out["input_rows"] = n
    out["write_ratio_full"] = round(
        out["string"]["shuffle_write_mb"]
        / max(out["fully_packed"]["shuffle_write_mb"], 0.01),
        2,
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
