#!/usr/bin/env python
"""One perf tool: plan capture and audit, and interleaved A/B timing.

``plans`` builds each query at ``--sf`` (default: every
``__spark_entry__.queries()`` entry), writes its formatted physical plan
to ``<out>/<query>_<suffix>.txt`` when ``--out`` is given, and prints one
markdown row per query: hash exchanges, broadcast joins, whole-stage-codegen
spans, Python crossings, and whether every scan reads at most 4 columns.
Iterative queries run their driver loops while the plan is built; their
plan is the final composed one.

``ab`` times two arms, pair by pair, over each target. A target is a
registry query (``__spark_entry__.queries()`` plus
``bench._bench_only_queries()``) at ``--sf``, or a synthetic fork-free
input:

* ``rung:N``: ``assemble_from_packed_counts`` (``--k`` <= 31) or
  ``assemble_from_blocks_counts`` (``--k`` > 31) over N distinct canonical
  k-mers of ``--paths`` random segments. The one-task gate
  (``extension._LOOP_BCAST_BYTES``) measures both strands, 2 x N x 64 B at
  k <= 31 and 2 x N x 80 B at k = 41, so its top is N = 524,288 at k = 31
  and N = 419,430 at k = 41;
* ``fixing:N``: ``fix_junctions`` over N ``--contig-len``-base contigs in
  chains of 50 that overlap by 31 bases (64 B + 2 x length per row).

An arm is a source tree (a directory, by default this tool's own tree, or
a git rev unpacked with ``git archive``) plus ``module.attr=value``
overrides (``--a-set``) and SQL confs (``--a-conf key=value``). Every run
is its own process with the arm's tree first on PYTHONPATH, so Spark's
Python workers import it too. It starts ``perfbench.harness``'s session
(local[4], 4 shuffle partitions), applies the overrides, builds the target
and hashes its output (the warm-up run), releases what that left
persisted, then times one run to a noop sink and reads its shuffle bytes
from Spark's stage accounting. Pairs alternate which arm runs first. Per
target one JSON line gives each arm's min, median and IQR of wall seconds
and median shuffle MB; when the outputs' digests differ it gives the
digests and no timings, and the exit status is 1.

Usage: python tools/perf.py plans --help; python tools/perf.py ab --help.
The one-task gate forced open in arm A and shut in arm B:
  python tools/perf.py ab --k 41 \\
      --a-set reflexiv_spark.operators.extension._LOOP_BCAST_BYTES=4611686018427387904 \\
      --b-set reflexiv_spark.operators.extension._LOOP_BCAST_BYTES=-1 rung:419430
"""

from __future__ import annotations

import argparse
import importlib.util
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import ExitStack, redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
CHAIN = 50


def parse_override(spec: str) -> tuple[str, str, object]:
    """``module.attr=value`` -> (module, attr, value); the value is an int,
    else a float, else the string as given."""
    target, sep, raw = spec.partition("=")
    module, _, attr = target.rpartition(".")
    if not (sep and module and attr):
        raise ValueError(f"override {spec!r} is not module.attr=value")
    for cast in (int, float):
        try:
            return module, attr, cast(raw)
        except ValueError:
            pass
    return module, attr, raw


def pair_orders(pairs: int) -> list[tuple[str, str]]:
    """Arm order of each pair: A first in even pairs, B first in odd."""
    return [("a", "b") if i % 2 == 0 else ("b", "a") for i in range(pairs)]


def digest(df) -> str:
    """``rows:hash`` of a DataFrame that ignores row order and partitioning:
    the sum of every row's xxhash64 over its JSON, with top-level float
    columns at 9 significant digits."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.format_string("%.9g", F.col(f"`{f.name}`")).alias(f.name)
        if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema
    ]
    h = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")
    n, total = df.select(h.alias("h")).agg(F.count(F.lit(1)), F.sum("h")).first()
    return f"{n}:{total or 0}"


def _segments(n_seg: int, seg_len: int, seed: int) -> list[str]:
    import numpy as np

    rng = np.random.default_rng(seed)
    codes = rng.integers(0, 4, size=(n_seg, seg_len), dtype=np.uint8)
    lut = np.frombuffer(b"ACGT", dtype=np.uint8)
    return [lut[row].tobytes().decode() for row in codes]


def _stored(df, path: str):
    """Write ``df`` as Parquet and read it back: an input that outlives
    ``harness.release``, which drops every persisted RDD."""
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)


def _rung(spark, rows: int, args, path: str):
    from pyspark.sql import functions as F
    from reflexiv_spark.operators._codec import codec_for
    from reflexiv_spark.pipelines import assemble

    k = args.k
    codec = codec_for(k, packed=True)
    segs = _segments(args.paths, max(1, rows // args.paths) + k - 1, seed=rows)
    df = spark.createDataFrame([(s,) for s in segs], "s string").repartition(4)
    km = df.select(
        F.explode(
            F.expr(f"transform(sequence(1, length(s) - {k - 1}), i -> substring(s, i, {k}))")
        ).alias("kmer")
    )
    canon = F.least("kmer", F.translate(F.reverse("kmer"), "ACGT", "TGCA"))
    counts = _stored(
        km.select(codec.encode(canon, k).alias("kid"))
        .groupBy("kid")
        .agg(F.count(F.lit(1)).alias("count")),
        path,
    )
    build = codec.public(assemble, "assemble_from{}_counts")
    return lambda: build(counts, k, min_contig=k + 1, input_canonical=True)


def _fixing(spark, rows: int, args, path: str):
    from reflexiv_spark.operators.fixing import DEFAULT_FIX_K, fix_junctions

    # contig i's last DEFAULT_FIX_K bases open contig i + 1 of its chain
    step = args.contig_len - DEFAULT_FIX_K
    genomes = _segments(max(1, rows // CHAIN), step * CHAIN + DEFAULT_FIX_K, seed=rows)
    seqs = [(g[i * step : i * step + args.contig_len],) for g in genomes for i in range(CHAIN)]
    cs = _stored(spark.createDataFrame(seqs, "seq string").repartition(4), path)
    return lambda: fix_junctions(cs)


def _synthetic(target: str) -> tuple[str, int] | None:
    kind, _, rows = target.partition(":")
    return (kind, int(rows)) if kind in ("rung", "fixing") and rows.isdigit() else None


def _job(spark, target: str, args, path: str):
    """A callable that builds the target's DataFrame once per call."""
    if synthetic := _synthetic(target):
        kind, rows = synthetic
        return (_rung if kind == "rung" else _fixing)(spark, rows, args, path)
    import __spark_entry__ as ent
    import bench

    query = {**ent.queries(), **bench._bench_only_queries()}[target]
    return lambda: query(spark, args.sf)


def _child(args) -> int:
    """One timed run of arm A's settings; prints one JSON line."""
    # this tree's harness whichever tree the arm is
    spec = importlib.util.spec_from_file_location("harness", REPO / "perfbench" / "harness.py")
    harness = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(harness)
    os.environ["SPARK_GRAFT_CPUS"] = str(harness.CORES)
    with tempfile.TemporaryDirectory(prefix="perf-run-", ignore_cleanup_errors=True) as work:
        spark = harness.start_session(work)
        for conf in args.a_conf:
            key, _, value = conf.partition("=")
            spark.conf.set(key, value)
        for override in args.a_set:
            module, attr, value = parse_override(override)
            setattr(importlib.import_module(module), attr, value)
        job = _job(spark, args.targets[0], args, os.path.join(work, "input"))
        out = digest(job())
        harness.release(spark)
        shuffle = harness.StageAccounting(spark)
        t0 = time.perf_counter()
        job().write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        rec = {"wall_s": round(wall, 3), "shuffle_mb": round(shuffle.take() / 2**20, 3)}
        print(json.dumps({**rec, "digest": out}), flush=True)
        spark.stop()
    return 0


def _tree(spec: str, stack: ExitStack) -> str:
    """An arm's source tree: a directory as it is, else a git rev unpacked
    into a temporary directory."""
    if os.path.isdir(spec):
        return os.path.abspath(spec)
    tmp = stack.enter_context(tempfile.TemporaryDirectory(prefix="perf-arm-"))
    tar = subprocess.run(["git", "archive", spec], cwd=REPO, check=True, capture_output=True)
    subprocess.run(["tar", "-x", "-C", tmp], input=tar.stdout, check=True)
    return tmp


def _spawn(tree: str, sets: list[str], confs: list[str], target: str, args) -> dict:
    cmd = [sys.executable, str(Path(__file__).resolve()), "ab", "--child"]
    cmd += ["--sf", args.sf or "", "--k", str(args.k), "--paths", str(args.paths)]
    cmd += ["--contig-len", str(args.contig_len)]
    cmd += [f"--a-set={s}" for s in sets] + [f"--a-conf={c}" for c in confs] + [target]
    path = os.pathsep.join(p for p in (tree, os.environ.get("PYTHONPATH")) if p)
    proc = subprocess.run(cmd, env={**os.environ, "PYTHONPATH": path}, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{target}: run failed in {tree} (exit {proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _summary(runs: list[dict]) -> dict:
    walls = [r["wall_s"] for r in runs]
    q1, _, q3 = statistics.quantiles(walls, n=4, method="inclusive") if len(walls) > 1 else walls * 3
    return {
        "min": min(walls),
        "median": round(statistics.median(walls), 3),
        "iqr": round(q3 - q1, 3),
        "shuffle_mb": round(statistics.median(r["shuffle_mb"] for r in runs), 3),
        "runs": walls,
    }


def _ab(args) -> int:
    status = 0
    with ExitStack() as stack:
        arms = {
            "a": (_tree(args.a, stack), args.a_set, args.a_conf),
            "b": (_tree(args.b, stack), args.b_set, args.b_conf),
        }
        for target in args.targets:
            runs: dict[str, list[dict]] = {"a": [], "b": []}
            for order in pair_orders(args.pairs):
                for arm in order:
                    runs[arm].append(r := _spawn(*arms[arm], target, args))
                    print(f"{target} {arm}: {r['wall_s']} s, {r['shuffle_mb']} MB", file=sys.stderr)
                digests = {arm: sorted({r["digest"] for r in rs}) for arm, rs in runs.items()}
                differ = len(set(digests["a"] + digests["b"])) > 1
                if differ:  # no timing of a different output is worth more runs
                    break
            if differ:
                print(json.dumps({"target": target, "digests_differ": digests}), flush=True)
                status = 1
                continue
            rec = {"target": target, "digest": digests["a"][0]}
            print(json.dumps({**rec, **{arm: _summary(rs) for arm, rs in runs.items()}}), flush=True)
    return status


def _plans(args) -> int:
    sys.path.insert(0, str(REPO))
    import __spark_entry__ as ent
    import bench
    from reflexiv_spark.session import get_spark

    qs = {**ent.queries(), **bench._bench_only_queries()}
    out = Path(args.out) if args.out else None
    if out:
        out.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="perf-plans")
    spark.sparkContext.setLogLevel("ERROR")
    print("| query | shuffles | bcast joins | codegen spans | py crossings | scan pruned |")
    print("|---|---|---|---|---|---|")
    for name in args.queries or sorted(ent.queries()):
        try:
            df = qs[name](spark, args.sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if out:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    df.explain("formatted")
                (out / f"{name}_{args.suffix}.txt").write_text(buf.getvalue())
        except Exception as e:  # noqa: BLE001
            print(f"| {name} | error: {str(e)[:60]} | | | | |", flush=True)
            continue
        schemas = set(re.findall(r"ReadSchema: struct<([^>]*)>", plan))
        row = (
            name,
            len(re.findall(r"Exchange hashpartitioning", plan)),
            len(re.findall(r"Broadcast(Hash|NestedLoop)Join", plan)),
            len(set(re.findall(r"\*\((\d+)\)", plan))),
            len(re.findall(r"(MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas)", plan)),
            "yes" if all(len(s.split(",")) <= 4 for s in schemas) else "CHECK",
        )
        print("| " + " | ".join(str(x) for x in row) + " |", flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Plan audit and interleaved A/B timing.")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    p = sub.add_parser("plans", help="write formatted plans, print the plan audit table")
    p.add_argument("--sf", default=sf, help="table directory (default $SPARK_GRAFT_SF_DIR)")
    p.add_argument("--out", help="directory for <query>_<suffix>.txt formatted plans")
    p.add_argument("--suffix", default="before")
    p.add_argument("queries", nargs="*")
    a = sub.add_parser("ab", help="interleaved A/B, one process per run")
    for arm in "ab":
        a.add_argument(f"--{arm}", default=str(REPO), help=f"arm {arm.upper()} tree or git rev")
        a.add_argument(f"--{arm}-set", action="append", default=[], metavar="MODULE.ATTR=VALUE")
        a.add_argument(f"--{arm}-conf", action="append", default=[], metavar="KEY=VALUE")
    a.add_argument("--pairs", type=int, default=3)
    a.add_argument("--sf", default=sf, help="table directory (default $SPARK_GRAFT_SF_DIR)")
    a.add_argument("--k", type=int, default=31)
    a.add_argument("--paths", type=int, default=1000)
    a.add_argument("--contig-len", type=int, default=500)
    a.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    a.add_argument("targets", nargs="+", help="query name, rung:N or fixing:N")
    args = ap.parse_args(argv)
    if not args.sf and (args.cmd == "plans" or not all(map(_synthetic, args.targets))):
        ap.error("queries need --sf or SPARK_GRAFT_SF_DIR")
    if args.cmd == "plans":
        return _plans(args)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    for spec in args.a_set + args.b_set:
        try:
            parse_override(spec)
        except ValueError as e:
            ap.error(str(e))
    return _child(args) if args.child else _ab(args)


if __name__ == "__main__":
    raise SystemExit(main())
