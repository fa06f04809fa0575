"""Seeded input generators with ground truth.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Inputs are written once per (workload, seed) under
the benchmark's work directory and reused by later runs with that seed
(``ensure_inputs``). Generation runs in the calling process only (NumPy,
no pools), before any timed region.

Genome workloads write ``reads.fastq`` (the engine's input) and
``truth.fasta`` (the true genomes, read only by the verifier). The text
workload writes ``docs.parquet`` (the engine's input) and
``truth.json`` (the planted exact- and near-duplicate groups).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

ACGT = np.frombuffer(b"ACGT", dtype=np.uint8)
_COMP = bytes.maketrans(b"ACGT", b"TGCA")


def revcomp(seq: bytes) -> bytes:
    return seq.translate(_COMP)[::-1]


def random_genome(rng: np.random.Generator, length: int) -> bytes:
    return ACGT[rng.integers(0, 4, length)].tobytes()


def simulate_reads(
    rng: np.random.Generator,
    genome: bytes,
    coverage: float,
    read_len: int = 100,
    error_rate: float = 0.005,
    rc_prob: float = 0.5,
) -> list[bytes]:
    """Uniform reads at ``coverage``×, each base substituted with
    probability ``error_rate`` (never by itself), a ``rc_prob`` share
    reverse-complemented.

    A substitution is kept in the first read that draws it only: when two
    reads carry the same wrong base at the same genome position, their
    error k-mers reach the engine's minimum coverage of 2 and can end up
    in a contig, which is then no exact substring of the genome."""
    codes = np.frombuffer(genome, dtype=np.uint8)
    idx = np.searchsorted(ACGT, codes)  # A,C,G,T -> 0..3 (ACGT is sorted)
    n = int(len(genome) * coverage / read_len)
    starts = rng.integers(0, len(genome) - read_len + 1, n)
    reads = idx[starts[:, None] + np.arange(read_len)]
    rows, cols = np.nonzero(rng.random(reads.shape) < error_rate)
    wrong = (reads[rows, cols] + rng.integers(1, 4, len(rows))) % 4
    _, first = np.unique((starts[rows] + cols) * 4 + wrong, return_index=True)
    reads[rows[first], cols[first]] = wrong[first]
    flip = rng.random(n) < rc_prob
    reads[flip] = 3 - reads[flip, ::-1]
    return [row.tobytes() for row in ACGT[reads]]


def write_fastq(path: str, reads: list[bytes]) -> None:
    qual = b"I" * len(reads[0]) if reads else b""
    with open(path, "wb") as f:
        for i, r in enumerate(reads):
            f.write(b"@r%d\n%s\n+\n%s\n" % (i, r, qual[: len(r)]))


def write_truth_fasta(path: str, genomes: dict[str, bytes]) -> None:
    with open(path, "wb") as f:
        for name, seq in genomes.items():
            f.write(b">%s\n%s\n" % (name.encode(), seq))


def read_truth_fasta(path: str) -> dict[str, bytes]:
    out: dict[str, bytes] = {}
    name = None
    with open(path, "rb") as f:
        for line in f:
            line = line.strip()
            if line.startswith(b">"):
                name = line[1:].decode()
                out[name] = b""
            elif name is not None:
                out[name] += line
    return out


def isolate(seed: int, genome_len: int, coverage: float) -> tuple[dict, list]:
    """One random genome, reads at ``coverage``×."""
    rng = np.random.default_rng(seed)
    genome = random_genome(rng, genome_len)
    return {"g0": genome}, simulate_reads(rng, genome, coverage)


def community(
    seed: int, genome_lens: tuple[int, ...], coverages: tuple[float, ...]
) -> tuple[dict, list]:
    """Several random genomes; genome i is sequenced at ``coverages[i]``×.
    Depths are fixed, so every seed gives the same number of reads."""
    rng = np.random.default_rng(seed)
    genomes, reads = {}, []
    for i, (g_len, cov) in enumerate(zip(genome_lens, coverages)):
        genome = random_genome(rng, g_len)
        genomes[f"g{i}"] = genome
        reads += simulate_reads(rng, genome, cov)
    order = rng.permutation(len(reads))
    return genomes, [reads[i] for i in order]


# Function words first (they make the quality scorer see English), then
# content words; documents draw from the list with Zipf-like weights.
_WORDS = (
    "the of and to a in is it that was for on are as with his they at be "
    "this from have or by one had not but what all were when we there can "
    "an your which their said if do will each about how up out them then "
    "she many some so these would other into has more her two like him "
    "see time could no make than first been its who now people my made "
    "over did down only way find use may water long little very after "
    "words called just where most know get through back much go good new "
    "write our me man too any day same right look think also around "
    "another came come work three word must because does part even place "
    "well such here take why things help put years different away again "
    "off went old number great tell men say small every found still "
    "between name should home big give air line set own under read last "
    "never us left end along while might next sound below saw something "
    "thought both few those always looked show large often together asked "
    "house world going want school important until form food keep children "
    "feet land side without boy once animals life enough took sometimes "
    "four head above kind began almost live page got earth need far hand "
    "high year mother light parts country father let night following "
    "picture being study second eyes soon times story boys since white "
    "days paper hard near sentence better best across during today others "
    "however sure means knew trying horse river garden winter village "
    "market bridge letter window station doctor engine forest island "
    "mountain harbor machine kitchen library museum painter teacher "
    "captain silver copper valley meadow thunder lantern compass harvest "
    "orchard pebble quarry ribbon saddle timber voyage whistle anchor "
    "blanket canyon cottage desert feather glacier hammer jacket kettle "
    "ladder marble needle oyster pillow rocket shelter tunnel umbrella "
    "velvet wagon yellow zebra basket candle dragon engineer fabric "
    "galaxy helmet insect jungle kingdom lemon magnet nectar olive parrot "
    "quilt rabbit spider turtle violin walnut"
).split()


def _doc(rng: np.random.Generator, weights: np.ndarray) -> list[str]:
    n = int(rng.integers(40, 120))
    return [_WORDS[i] for i in rng.choice(len(_WORDS), n, p=weights)]


def corpus(
    seed: int, n_docs: int, exact_frac: float = 0.05, near_frac: float = 0.05
) -> tuple[list[tuple[int, str]], dict]:
    """``n_docs`` documents: uniques, plus ``exact_frac`` planted exact
    duplicates (case and whitespace changed, which the engine's text
    normalization folds) and ``near_frac`` planted near-duplicates (4
    words substituted). Each planted copy gets its own group with its
    source document; ids are a seeded shuffle, so either member of a
    group may carry the smaller id."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, len(_WORDS) + 1)
    weights = 1.0 / ranks ** 0.8
    weights /= weights.sum()
    n_exact = int(n_docs * exact_frac)
    n_near = int(n_docs * near_frac)
    n_base = n_docs - n_exact - n_near
    base = [_doc(rng, weights) for _ in range(n_base)]
    texts = [" ".join(words) + "." for words in base]
    # sources of planted copies are distinct docs, so groups are disjoint
    sources = rng.choice(n_base, n_exact + n_near, replace=False)
    exact_groups, near_groups = [], []
    for j, src in enumerate(sources):
        words = list(base[src])
        if j < n_exact:
            copy = "  ".join(words).upper() + ". "
            exact_groups.append([int(src), len(texts)])
        else:
            for pos in rng.choice(len(words), 4, replace=False):
                words[pos] = _WORDS[int(rng.integers(len(_WORDS)))]
            copy = " ".join(words) + "."
            near_groups.append([int(src), len(texts)])
        texts.append(copy)
    ids = rng.permutation(len(texts))  # position -> doc id
    docs = [(int(ids[i]), t) for i, t in enumerate(texts)]
    truth = {
        "exact_groups": [[int(ids[a]), int(ids[b])] for a, b in exact_groups],
        "near_groups": [[int(ids[a]), int(ids[b])] for a, b in near_groups],
    }
    return docs, truth


def _write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }
    )
    pq.write_table(table, path)


def ensure_inputs(root: str, workload: str, seed: int, spec: dict) -> str:
    """Write the inputs of ``workload`` for ``seed`` under ``root`` once;
    return their directory. A directory without its ``_DONE`` marker is
    a partial write and is rebuilt."""
    out = os.path.join(root, f"{workload}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    kind = spec["kind"]
    if kind == "text":
        docs, truth = corpus(seed, spec["n_docs"])
        _write_docs(os.path.join(out, "docs.parquet"), docs)
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump(truth, f)
    else:
        if kind == "isolate":
            genomes, reads = isolate(seed, spec["genome_len"], spec["coverage"])
        else:
            genomes, reads = community(
                seed, spec["genome_lens"], spec["coverages"]
            )
        write_fastq(os.path.join(out, "reads.fastq"), reads)
        write_truth_fasta(os.path.join(out, "truth.fasta"), genomes)
    open(os.path.join(out, "_DONE"), "w").close()
    return out
