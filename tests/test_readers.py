"""Reader tests: splittable FASTQ/FASTA parsing with boundary sync."""

from __future__ import annotations

import gzip
import random

import pytest

from tests.conftest import random_genome

from reflexiv_spark.sources.records import read_fasta, read_fastq


def _make_fastq(path, records):
    with open(path, "w") as f:
        for rid, seq, qual in records:
            f.write(f"@{rid}\n{seq}\n+\n{qual}\n")


@pytest.fixture(scope="module")
def fastq_records():
    rng = random.Random(21)
    recs = []
    for i in range(300):
        seq = random_genome(rng.randrange(60, 140), seed=1000 + i)
        # quality strings that START with '@' and '+' — the classic
        # boundary-sync trap
        lead = "@" if i % 3 == 0 else ("+" if i % 3 == 1 else "I")
        qual = lead + "".join(
            chr(33 + rng.randrange(0, 40)) for _ in range(len(seq) - 1)
        )
        recs.append((f"read{i}/1", seq, qual))
    return recs


def test_fastq_single_split(spark, tmp_path_factory, fastq_records):
    d = tmp_path_factory.mktemp("fq1")
    _make_fastq(d / "a.fastq", fastq_records)
    out = read_fastq(spark, str(d / "a.fastq")).collect()
    got = {(r.read_id, r.seq, r.qual) for r in out}
    assert got == set(fastq_records)


def test_fastq_many_splits_boundary_sync(spark, tmp_path_factory, fastq_records):
    d = tmp_path_factory.mktemp("fq2")
    _make_fastq(d / "a.fastq", fastq_records)
    # tiny splits → dozens of tasks, every boundary lands mid-record
    df = read_fastq(spark, str(d / "a.fastq"), split_size=1000)
    assert df.rdd.getNumPartitions() > 10  # many tasks for ONE file
    got = {(r.read_id, r.seq, r.qual) for r in df.collect()}
    assert got == set(fastq_records)


def test_fastq_gzip_fallback(spark, tmp_path_factory, fastq_records):
    d = tmp_path_factory.mktemp("fq3")
    raw = "".join(f"@{r}\n{s}\n+\n{q}\n" for r, s, q in fastq_records[:50])
    with gzip.open(d / "a.fastq.gz", "wt") as f:
        f.write(raw)
    got = {(r.read_id, r.seq, r.qual) for r in read_fastq(spark, str(d / "a.fastq.gz")).collect()}
    assert got == set(fastq_records[:50])


def test_fasta_multiline_and_splits(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fa1")
    seqs = {f"ctg{i}": random_genome(400, seed=2000 + i) for i in range(40)}
    with open(d / "x.fasta", "w") as f:
        for rid, seq in seqs.items():
            f.write(f">{rid} extra descr\n")
            for j in range(0, len(seq), 70):  # wrapped lines
                f.write(seq[j : j + 70] + "\n")
    df = read_fasta(spark, str(d / "x.fasta"), split_size=1500)
    assert df.rdd.getNumPartitions() > 5
    got = {r.id.split()[0]: r.seq for r in df.collect()}
    assert got == seqs


def test_fasta_lowercase_uppercased(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fa2")
    (d / "y.fa").write_text(">a\nacgt\nACGT\n")
    rows = read_fasta(spark, str(d / "y.fa")).collect()
    assert rows[0].seq == "ACGTACGT"


def test_split_size_invariance(spark, tmp_path_factory, fastq_records):
    """Every split size must parse the exact same record set — catches
    boundary off-by-ones at all alignments (incl. boundaries landing on
    record starts, mid-record, and on quality lines starting with @/+)."""
    d = tmp_path_factory.mktemp("fq5")
    _make_fastq(d / "a.fastq", fastq_records)
    expected = set(fastq_records)
    for split in (257, 511, 1000, 4093, 1 << 20):
        got = {
            (r.read_id, r.seq, r.qual)
            for r in read_fastq(spark, str(d / "a.fastq"), split_size=split).collect()
        }
        assert got == expected, f"split_size={split}"
    # same sweep for FASTA
    seqs = {f"c{i}": random_genome(150, seed=3000 + i) for i in range(60)}
    with open(d / "b.fasta", "w") as f:
        for rid, seq in seqs.items():
            f.write(f">{rid}\n{seq[:80]}\n{seq[80:]}\n")
    for split in (97, 256, 1111, 1 << 20):
        got = {r.id: r.seq for r in read_fasta(spark, str(d / "b.fasta"), split_size=split).collect()}
        assert got == seqs, f"split_size={split}"


def test_multi_file_glob(spark, tmp_path_factory, fastq_records):
    d = tmp_path_factory.mktemp("fq4")
    _make_fastq(d / "a.fastq", fastq_records[:100])
    _make_fastq(d / "b.fastq", fastq_records[100:])
    got = {r.read_id for r in read_fastq(spark, str(d) + "/*.fastq").collect()}
    assert got == {r for r, _, _ in fastq_records}


def test_kmer_count_csv_roundtrip(spark, tmp_path_factory):
    """S4 + K1: counter output → gzip CSV sink → CSV scan roundtrip."""
    from reflexiv_spark.operators.counter import count_kmers
    from reflexiv_spark.plans.stages import write_csv
    from reflexiv_spark.sources.fastq import read_kmer_counts

    seqs = [random_genome(200, seed=s) for s in range(20)]
    reads = spark.createDataFrame([(s,) for s in seqs], "seq string")
    counts = count_kmers(reads, 15, min_coverage=1)
    expected = {(r["kmer"], r["count"]) for r in counts.collect()}
    out = str(tmp_path_factory.mktemp("counts") / "Count_15")
    write_csv(counts, out, gzip=True)
    back = read_kmer_counts(spark, out)
    assert back.schema.simpleString() == "struct<kmer:string,count:bigint>"
    assert {(r["kmer"], r["count"]) for r in back.collect()} == expected


def test_contig_csv_scan(spark, tmp_path_factory):
    """S6: 2-col contig CSV → DataFrame[contig_id, seq], blanks dropped."""
    import csv

    from reflexiv_spark.sources.fastq import read_contig_csv

    d = tmp_path_factory.mktemp("ctgcsv")
    p = d / "contigs.csv"
    with open(p, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["c1", "acgtACGT"])
        w.writerow(["c2", "TTTT"])
        w.writerow(["c3", ""])  # blank seq: dropped
    got = {(r.contig_id, r.seq) for r in read_contig_csv(spark, str(p)).collect()}
    assert got == {("c1", "ACGTACGT"), ("c2", "TTTT")}


def test_4mc_escape_hatch_reports_missing_jar(spark, tmp_path_factory):
    """S2: without the 4mc jar the hatch must fail loudly and actionably,
    not with an opaque py4j stack."""
    import pytest as _pytest

    from reflexiv_spark.sources.fastq import read_text_4mc

    d = tmp_path_factory.mktemp("mc4")
    (d / "x.4mc").write_bytes(b"\x00")
    with _pytest.raises(RuntimeError, match="4mc.*classpath|Parquet"):
        read_text_4mc(spark, str(d / "x.4mc")).collect()


def test_read_legacy_kmer_tuples(spark, tmp_path):
    from reflexiv_spark.sources.fastq import read_legacy_kmer_tuples

    p = tmp_path / "legacy.txt"
    p.write_text("(ACGTA,3)\n(tggca, 12)\nnot a tuple\n(NNNNN,1)\n(,5)\n")
    rows = {r["kmer"]: r["count"] for r in read_legacy_kmer_tuples(spark, str(p)).collect()}
    assert rows == {"ACGTA": 3, "TGGCA": 12, "NNNNN": 1}


def test_python_datasource_matches_mapinpandas_reader(spark, tmp_path):
    """The Spark 4 Python DataSource path must produce exactly the rows
    of the primary mapInPandas reader — same parsers, two surfaces."""
    from reflexiv_spark.sources import datasource as ds
    from reflexiv_spark.sources.records import read_fasta, read_fastq

    fq = tmp_path / "reads.fq"
    fq.write_text(
        "@r1\nACGT\n+\nIIII\n"
        "@r2\nTTGGCC\n+\nIIIIII\n"
        "@r3\nGATTACA\n+\nIIIIIII\n"
    )
    fa = tmp_path / "refs.fa"
    fa.write_text(">c1\nacgt\nACGT\n>c2\nGGGG\n")

    ds.register(spark)
    via_ds = sorted(
        map(tuple, spark.read.format("fastq").load(str(fq)).collect())
    )
    via_mp = sorted(map(tuple, read_fastq(spark, str(fq)).collect()))
    assert via_ds == via_mp and len(via_ds) == 3

    fa_ds = sorted(
        map(tuple, spark.read.format("fastabio").load(str(fa)).collect())
    )
    fa_mp = sorted(map(tuple, read_fasta(spark, str(fa)).collect()))
    assert fa_ds == fa_mp and len(fa_ds) == 2

    # a gzip FASTQ keeps working through the API
    gz = tmp_path / "paired_1.fq.gz"
    with gzip.open(gz, "wt") as f:
        for i in range(50):
            seq = random_genome(100, seed=300 + i)
            f.write(f"@pair{i}/1\n{seq}\n+\n{'I' * len(seq)}\n")
    via_gz = spark.read.format("fastq").load(str(gz)).count()
    gz_mp = read_fastq(spark, str(gz)).count()
    assert via_gz == gz_mp > 0
