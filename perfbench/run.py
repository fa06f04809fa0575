"""Reads-to-contigs benchmark for reflexiv_spark.

    python3 perfbench/run.py --workload meta_ladder --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (cached per seed under
``.bench_work/``), starts a ``local[4]`` session, runs one untimed
warm-up pass, then as many timed passes as take ``--seconds`` on a quiet
box (at least one). Every pass is verified against the generated ground
truth. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (which turns on
Spark's event log and adds one traced pass after the timed ones). The lines
before it report every metric, quality metrics included, and the path of
a JSON artifact with the per-pass readings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# pass_s: one warm pass on a quiet 4-core box. The min_* floors fail a
# pass whose output is incomplete; README.md gives the values seeds read.
WORKLOADS = {
    "isolate_k31": {
        "kind": "isolate", "genome_len": 20_000, "coverage": 30, "pass_s": 9,
        "min_genome_fraction": 0.95,
    },
    "meta_ladder": {
        "kind": "community",
        "genome_lens": (5_000, 4_000, 2_500, 1_500),
        "coverages": (40, 20, 10, 5),
        "pass_s": 18,
        "min_genome_fraction": 0.75,
    },
    "text_clean": {
        "kind": "text", "n_docs": 16_000, "pass_s": 12, "min_near_dup_recall": 0.9,
    },
}


def _environment() -> None:
    """Keep every file the run writes inside the checkout and make the
    engine importable by Spark's Python workers."""
    if not os.path.isdir(os.path.join(ROOT, "reflexiv_spark")):
        sys.exit(f"reflexiv_spark not found next to {HERE}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]


class Workload:
    """One workload's input, its timed pass and its verifier."""

    def __init__(self, name: str, inputs: str):
        import gen

        self.name, self.inputs = name, inputs
        self.spec = WORKLOADS[name]
        self.kind = self.spec["kind"]
        if self.kind == "text":
            import pyarrow.parquet as pq

            self.path = os.path.join(inputs, "docs.parquet")
            table = pq.read_table(self.path).to_pydict()
            self.texts = dict(zip(table["doc_id"], table["text"]))
            with open(os.path.join(inputs, "truth.json")) as f:
                self.truth = json.load(f)
        else:
            self.path = os.path.join(inputs, "reads.fastq")
            self.truth = gen.read_truth_fasta(os.path.join(inputs, "truth.fasta"))
        self.input_mb = os.path.getsize(self.path) / 1e6

    def run(self, spark, out: str, scratch: str) -> float:
        """One timed pass: input on disk → result written to ``out``."""
        from reflexiv_spark.datapipe import pipeline
        from reflexiv_spark.pipelines import assemble, meta
        from reflexiv_spark.sources import fastq

        t = time.perf_counter()
        if self.kind == "text":
            docs = spark.read.parquet(self.path)
            pipeline.clean_corpus(docs, langs=None).write.mode("overwrite").parquet(out)
        else:
            reads = fastq.read_fastq(spark, self.path)
            if self.kind == "isolate":
                contigs = assemble.assemble(reads, k=31, packed=True, algorithm="rank")
            else:
                # a fresh workdir: a completed one would resume every rung
                contigs = meta.meta_assemble(
                    reads, klist=(23, 31, 41), packed=True, algorithm="rank",
                    workdir=scratch,
                )
            fastq.write_fasta(contigs, out, id_col="contig_id")
        return time.perf_counter() - t

    def verify(self, out: str) -> tuple[bool, dict]:
        import verify

        if self.kind == "text":
            import pyarrow.parquet as pq

            ids = pq.read_table(out, columns=["doc_id"]).column(0).to_pylist()
            return verify.verify_corpus(
                ids, self.texts, self.truth, self.spec["min_near_dup_recall"]
            )
        return verify.verify_contigs(
            verify.read_fasta_dir(out), self.truth, self.spec["min_genome_fraction"]
        )


class Runner:
    """Runs passes of one workload and keeps every reading."""

    def __init__(self, workload: Workload, rss, log: dict):
        self.w, self.rss, self.log = workload, rss, log
        self.attempted = self.failed = 0

    def one_pass(self, spark, label: str, stages=None) -> dict | None:
        """Time one pass, then (untimed) verify it, read its shuffle
        bytes, release what it left persisted and probe the CPU."""
        import harness

        self.attempted += 1
        out = os.path.join(WORK, "run", f"out-{self.attempted}")
        scratch = os.path.join(WORK, "run", f"workdir-{self.attempted}")
        rec: dict = {"pass": label}
        try:
            self.rss.reset()
            ticks, cpu = harness.cpu_ticks(), harness.tree_cpu_s()
            rec["wall_s"] = self.w.run(spark, out, scratch)
            rec["cpu_s"] = harness.tree_cpu_s() - cpu
            rec["steal_share"] = harness.steal_share(ticks)
            rec["peak_rss_mb"] = self.rss.peak() / 1e6
            ok, rec["quality"] = self.w.verify(out)
        except Exception:  # a failing pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok = False
        if stages is not None:
            rec["shuffle_write_mb"] = stages.take() / 1e6
        rec["leaked_rdds"] = harness.release(spark)
        rec["cpu_probe_s"] = harness.cpu_probe()
        rec["ok"] = ok
        self.failed += not ok
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
        self.log["passes"].append(rec)
        return rec if ok else None


def _median(recs: list[dict], key: str) -> float:
    vals = [r[key] for r in recs if key in r]
    return statistics.median(vals) if vals else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _environment()
    # outputs, workdirs and event logs an interrupted run left behind: a
    # leftover workdir with a completed rung would be resumed, not rebuilt
    for stale in ("run", "eventlog"):
        shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)

    import gen
    import harness

    inputs = gen.ensure_inputs(
        os.path.join(WORK, "inputs"), args.workload, args.seed, WORKLOADS[args.workload]
    )
    workload = Workload(args.workload, inputs)
    log: dict = {
        "workload": args.workload, "seed": args.seed, "input_mb": workload.input_mb,
        "cpu_probe_start_s": harness.cpu_probe(), "passes": [],
    }
    with harness.RssSampler() as rss:
        runner = Runner(workload, rss, log)
        try:
            warm_ok, timed, metrics = _measure(args, runner, log)
        finally:
            harness.shutdown_jvm(rss.pids)
    log["cpu_probe_end_s"] = harness.cpu_probe()

    correct = warm_ok and runner.failed == 0 and len(timed) > 0
    _report(args, log, metrics, timed, runner)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _measure(args, runner: Runner, log: dict) -> tuple[bool, list[dict], dict]:
    """Set up, warm up, run the timed passes (and the traced one)."""
    import harness

    # set-up: session start (JVM launch included), then one untimed
    # warm-up pass. A traced run has Spark's event log on from the start,
    # so its traced pass runs as warm as the timed ones.
    log_dir = os.path.join(WORK, "eventlog")
    t = time.perf_counter()
    spark = harness.start_session(WORK, event_log_dir=log_dir if args.trace else None)
    log["session_start_s"] = time.perf_counter() - t
    warm = runner.one_pass(spark, "warm-up")
    log["setup_s"] = log["session_start_s"] + log["passes"][-1].get("wall_s", 0.0)
    stages = harness.StageAccounting(spark)
    # timed passes: --seconds over the workload's pass time on a quiet
    # 4-core box, at least one. A fixed count, not a deadline, so that a
    # loaded box cannot change which passes the median is taken over.
    timed = []
    for _ in range(max(1, int(args.seconds // WORKLOADS[args.workload]["pass_s"]))):
        rec = runner.one_pass(spark, "timed", stages)
        if rec is None:
            break
        timed.append(rec)

    if args.trace:
        return warm is not None, timed, _traced_pass(spark, runner, timed, log, log_dir)
    spark.stop()
    wall = _median(timed, "wall_s")
    input_mb = runner.w.input_mb
    return warm is not None, timed, {
        "wall_s": (wall, "s"),
        "input_mb_per_s": (input_mb / wall if wall else 0.0, "MB/s"),
        "setup_s": (log["setup_s"], "s"),
        "shuffle_write_mb": (_median(timed, "shuffle_write_mb"), "MB"),
    }


def _traced_pass(spark, runner: Runner, timed: list[dict], log: dict, log_dir: str) -> dict:
    """One more pass with every layer wrapped in spans; per-layer
    metrics from the spans joined with the session's event log."""
    import layers

    with layers.Tracer(spark) as tracer:
        rec = runner.one_pass(spark, "traced")
        tracer.release()
    spark.stop()  # closes the event log
    per_layer, detail = layers.layer_metrics(tracer.spans, layers.read_event_log(log_dir))
    shutil.rmtree(log_dir, ignore_errors=True)
    log["trace"] = detail
    per_layer["plans.barriers.leaked_rdds"] = _median(timed, "leaked_rdds")
    traced_wall = rec["wall_s"] if rec else 0.0
    per_layer["trace_overhead_s"] = traced_wall - _median(timed, "wall_s")
    return {name: (per_layer[name], layers.unit(name)) for name in layers.metric_names()}


def _report(args, log: dict, metrics: dict, timed: list[dict], runner: Runner) -> None:
    """Human-readable lines before the result line, plus the artifact."""
    import verify

    qual: dict[str, list] = {}
    for r in timed:
        for k, v in r.get("quality", {}).items():
            qual.setdefault(k, []).append(v)
    log["failed_runs"] = runner.failed / max(1, runner.attempted)
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    path = os.path.join(
        WORK, "artifacts", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    log["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(path, "w") as f:
        json.dump(log, f, indent=1)
    probes = [log["cpu_probe_start_s"], log["cpu_probe_end_s"]] + [
        r["cpu_probe_s"] for r in log["passes"]
    ]
    print(f"# {args.workload} seed={args.seed} passes={len(timed)} artifact={path}")
    for k, (v, u) in metrics.items():
        print(f"{k:<44} {v:>12.4f} {u}")
    print(f"{'failed_runs':<44} {log['failed_runs']:>12.4f} share")
    print(f"{'cpu_s':<44} {_median(timed, 'cpu_s'):>12.4f} s (median)")
    print(f"{'peak_rss_mb':<44} {_median(timed, 'peak_rss_mb'):>12.4f} MB (median)")
    for k, vals in qual.items():
        print(f"{k:<44} {statistics.median(vals):>12.4f} {verify.UNITS[k]} (median of {len(vals)})")
    print(f"{'cpu_probe_s (min/max)':<44} {min(probes):>12.4f} / {max(probes):.4f} s")


if __name__ == "__main__":
    sys.exit(main())
