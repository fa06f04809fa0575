"""Output verifiers: check an engine result against the generated ground
truth and compute its quality metrics.

A verifier returns ``(ok, metrics)``. ``ok`` is False when the output is
wrong: a contig that is not an exact substring of a true genome or of its
reverse complement, or a pair of surviving documents whose normalized
texts are equal. It is False too when the output is incomplete: less of
the genomes covered than the workload's floor, a document dropped that
no planted group holds, or fewer planted near-duplicates removed than
the workload's floor.
"""

from __future__ import annotations

import glob
import os
import re

import numpy as np

from gen import revcomp

# unit of every quality metric the verifiers return
UNITS = {
    "contigs": "count", "genome_fraction": "share", "n50_kb": "kb",
    "misassembled_contigs": "count", "docs_out": "count",
    "exact_dups_left": "count", "near_dup_recall": "share",
    "uniques_dropped": "count",
}


def read_fasta_dir(path: str) -> dict[str, bytes]:
    """Records of the ``part-*`` text files ``write_fasta`` leaves."""
    out: dict[str, bytes] = {}
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        name = None
        with open(part, "rb") as f:
            for line in f:
                line = line.strip()
                if line.startswith(b">"):
                    name = line[1:].decode()
                    out[name] = b""
                elif line and name is not None:
                    out[name] += line
    return out


def n50(lengths: list[int]) -> int:
    total, acc = sum(lengths), 0
    for n in sorted(lengths, reverse=True):
        acc += n
        if 2 * acc >= total:
            return n
    return 0


def verify_contigs(
    contigs: dict[str, bytes], genomes: dict[str, bytes], min_genome_fraction: float = 0.0
) -> tuple[bool, dict]:
    """Place every contig on the true genomes (either strand).

    ``genome_fraction`` is the share of true genome bases covered by at
    least one placed contig and must reach ``min_genome_fraction``;
    ``misassembled_contigs`` counts contigs found on no genome in either
    orientation and must be 0."""
    covered = {g: np.zeros(len(s), dtype=bool) for g, s in genomes.items()}
    misassembled = 0
    for seq in contigs.values():
        placed = False
        for g, gseq in genomes.items():
            pos = gseq.find(seq)
            if pos < 0:
                rpos = gseq.find(revcomp(seq))
                if rpos < 0:
                    continue
                pos = rpos
            covered[g][pos : pos + len(seq)] = True
            placed = True
            break
        misassembled += not placed
    total = sum(len(s) for s in genomes.values())
    metrics = {
        "contigs": len(contigs),
        "genome_fraction": float(sum(c.sum() for c in covered.values()) / total),
        "n50_kb": n50([len(s) for s in contigs.values()]) / 1000.0,
        "misassembled_contigs": misassembled,
    }
    ok = misassembled == 0 and metrics["genome_fraction"] >= min_genome_fraction
    return ok and len(contigs) > 0, metrics


def normalize(text: str) -> str:
    """The engine's exact-dedup key (``datapipe.dedup.normalize_text``):
    lowercase, trim, collapse whitespace runs."""
    return re.sub(r"\s+", " ", text.strip().lower())


def verify_corpus(
    kept_ids: list[int], texts: dict[int, str], truth: dict, min_near_dup_recall: float = 0.0
) -> tuple[bool, dict]:
    """Check the ids ``clean_corpus`` kept against the planted groups.

    ``exact_dups_left`` counts surviving documents whose normalized text
    equals another survivor's; ``near_dup_recall`` is the share of
    planted near-duplicate pairs with one member removed;
    ``uniques_dropped`` counts documents outside every planted group that
    were removed, plus planted groups that lost every member. A run
    passes with no exact duplicate left, no unique dropped and a
    ``near_dup_recall`` of at least ``min_near_dup_recall``."""
    kept = set(kept_ids)
    keys = [normalize(texts[i]) for i in kept]
    exact_left = len(keys) - len(set(keys))
    groups = truth["exact_groups"] + truth["near_groups"]
    grouped = {i for g in groups for i in g}
    near_hit = sum(
        1 for g in truth["near_groups"] if sum(i in kept for i in g) == 1
    )
    lost = sum(1 for i in texts if i not in grouped and i not in kept)
    lost += sum(1 for g in groups if not any(i in kept for i in g))
    metrics = {
        "docs_out": len(kept),
        "exact_dups_left": exact_left,
        "near_dup_recall": near_hit / max(1, len(truth["near_groups"])),
        "uniques_dropped": lost,
    }
    ok = (
        exact_left == 0
        and lost == 0
        and metrics["near_dup_recall"] >= min_near_dup_recall
        and len(kept_ids) == len(kept)
    )
    return ok, metrics
