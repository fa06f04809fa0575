"""Meta pipeline + stage barrier tests."""

from __future__ import annotations

import os

from tests.conftest import random_genome, revcomp, simulate_reads

from reflexiv_spark.pipelines.meta import meta_assemble
from reflexiv_spark.plans.stages import delete_path, stage, stage_done, write_csv


def test_meta_assembles_genome(spark):
    genome = random_genome(4000, seed=33)
    reads = simulate_reads(genome, read_len=100, coverage=20, seed=34)
    df = spark.createDataFrame([(r,) for r in reads], "seq string")
    contigs = meta_assemble(
        df, klist=(21, 31), min_coverage=2, min_contig=1000
    ).collect()
    assert len(contigs) >= 1
    best = max(contigs, key=lambda r: len(r.seq))
    assert best.seq in genome or revcomp(best.seq) in genome
    assert len(best.seq) >= 0.9 * len(genome)


def test_stage_resume(spark, tmp_path):
    workdir = str(tmp_path / "stages")
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).toDF("x")

    out1 = stage(spark, "s1", workdir, build)
    assert out1.count() == 10
    assert stage_done(spark, f"{workdir}/s1")
    # resume: build NOT called again
    out2 = stage(spark, "s1", workdir, build)
    assert out2.count() == 10
    assert len(calls) == 1
    # resume=False forces rebuild
    stage(spark, "s1", workdir, build, resume=False)
    assert len(calls) == 2
    delete_path(spark, f"{workdir}/s1")
    assert not stage_done(spark, f"{workdir}/s1")


def test_stage_fresh_build_rereads_with_its_schema(spark, tmp_path):
    """A fresh stage re-reads its barrier with the schema it just wrote:
    the same rows and schema as a resumed (inferring) read, and one job
    fewer than a write and an inferring re-read — no footer-inference
    job."""
    workdir = str(tmp_path / "stages")
    src = spark.createDataFrame(
        [("a", 1, [1, 2], None), ("b", None, [], 2.5)],
        "s string, i int, xs array<bigint>, d double",
    )
    sc = spark.sparkContext

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    fresh, n_fresh = jobs(
        "test-stage-fresh", lambda: stage(spark, "s1", workdir, lambda: src)
    )
    resumed, _ = jobs(
        "test-stage-resume", lambda: stage(spark, "s1", workdir, lambda: src)
    )
    assert fresh.schema == resumed.schema
    assert sorted(fresh.collect()) == sorted(resumed.collect()) == sorted(
        src.collect()
    )
    plain = str(tmp_path / "plain")

    def write_and_infer():
        src.write.mode("overwrite").parquet(plain)
        return spark.read.parquet(plain)

    _, n_plain = jobs("test-stage-plain", write_and_infer)
    assert n_fresh == n_plain - 1


def test_meta_workdir_resume(spark, tmp_path):
    genome = random_genome(1500, seed=35)
    reads = simulate_reads(genome, read_len=100, coverage=15, seed=36)
    df = spark.createDataFrame([(r,) for r in reads], "seq string")
    workdir = str(tmp_path / "meta")
    out1 = {r.seq for r in meta_assemble(
        df, klist=(21, 31), min_contig=500, workdir=workdir
    ).collect()}
    assert stage_done(spark, f"{workdir}/round_k21")
    assert stage_done(spark, f"{workdir}/round_k31")
    # second run resumes from barriers and reproduces the result
    out2 = {r.seq for r in meta_assemble(
        df, klist=(21, 31), min_contig=500, workdir=workdir
    ).collect()}
    assert out1 == out2


def test_meta_interrupted_mid_ladder_resumes_identically(spark, tmp_path, monkeypatch):
    """The I4 resume drill (VERDICT r4 stretch 9): crash the ladder in the
    MIDDLE of the k=31 round, re-invoke, and the resumed run must (a) skip
    the completed k=21 barrier, (b) rebuild the interrupted round even
    though a partial output directory exists, and (c) produce contigs
    identical to an uninterrupted run."""
    import pytest

    import reflexiv_spark.pipelines.meta as meta_mod

    genome = random_genome(4000, seed=41)
    reads = simulate_reads(genome, read_len=100, coverage=18, seed=42)
    df = spark.createDataFrame([(r,) for r in reads], "seq string")

    # ground truth: uninterrupted run in its own workdir
    wa = str(tmp_path / "meta_a")
    golden = {r.seq for r in meta_assemble(
        df, klist=(21, 31), min_contig=500, workdir=wa
    ).collect()}

    # interrupted run: the k=31 assemble dies mid-build
    wb = str(tmp_path / "meta_b")
    real_assemble = meta_mod.assemble_from_counts
    calls = []

    def dying_assemble(counts, k, **kw):
        calls.append(k)
        if k == 31:
            raise RuntimeError("simulated executor loss mid-ladder")
        return real_assemble(counts, k, **kw)

    monkeypatch.setattr(meta_mod, "assemble_from_counts", dying_assemble)
    with pytest.raises(RuntimeError, match="mid-ladder"):
        meta_assemble(df, klist=(21, 31), min_contig=500, workdir=wb).collect()
    assert stage_done(spark, f"{wb}/round_k21")
    assert not stage_done(spark, f"{wb}/round_k31")

    # leave a PARTIAL round_k31 directory (no _SUCCESS) like a real crash
    # during the parquet write would
    part = tmp_path / "meta_b" / "round_k31"
    part.mkdir(exist_ok=True)
    (part / "part-00000.parquet").write_bytes(b"garbage")

    # resume: k21 must come from its barrier (no new k=21 build), the
    # partial k31 output must be discarded and rebuilt
    resume_calls = []

    def counting_assemble(counts, k, **kw):
        resume_calls.append(k)
        return real_assemble(counts, k, **kw)

    monkeypatch.setattr(meta_mod, "assemble_from_counts", counting_assemble)
    resumed = {r.seq for r in meta_assemble(
        df, klist=(21, 31), min_contig=500, workdir=wb
    ).collect()}
    assert resume_calls == [31]  # k=21 skipped, interrupted k=31 rebuilt
    assert stage_done(spark, f"{wb}/round_k31")
    assert resumed == golden and golden


def test_write_csv_gzip(spark, tmp_path):
    path = str(tmp_path / "csv_out")
    write_csv(spark.range(5).toDF("x"), path, gzip=True)
    files = os.listdir(path)
    assert any(f.endswith(".csv.gz") for f in files)
    assert "_SUCCESS" in files
