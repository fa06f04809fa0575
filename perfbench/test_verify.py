"""The verifiers must reject wrong outputs, not just score right ones.

    python3 -m pytest perfbench/test_verify.py -q

No Spark: the engine's outputs are stood in for by slices of the
generated ground truth.
"""

from __future__ import annotations

import numpy as np

import gen
import verify


def _genome(seed: int = 7, n: int = 3000) -> bytes:
    return gen.random_genome(np.random.default_rng(seed), n)


def test_exact_contigs_pass_on_either_strand():
    g = _genome()
    contigs = {"a": g[100:1600], "b": gen.revcomp(g[1500:2900])}
    ok, m = verify.verify_contigs(contigs, {"g0": g})
    assert ok
    assert m["misassembled_contigs"] == 0
    assert m["genome_fraction"] == (2900 - 100) / len(g)
    assert m["n50_kb"] == 1.5


def test_corrupted_contig_fails_the_run():
    g = _genome()
    bad = bytearray(g[200:1200])
    bad[500] = ord("A") if bad[500] != ord("A") else ord("C")
    ok, m = verify.verify_contigs({"good": g[:800], "bad": bytes(bad)}, {"g0": g})
    assert not ok
    assert m["misassembled_contigs"] == 1


def test_missing_genome_fails_the_run():
    g, h = _genome(1), _genome(2)
    ok, m = verify.verify_contigs({"a": g[:2900]}, {"g0": g, "g1": h}, min_genome_fraction=0.75)
    assert not ok
    assert m["misassembled_contigs"] == 0 and m["genome_fraction"] < 0.5
    ok, _ = verify.verify_contigs({"a": g, "b": h[:2500]}, {"g0": g, "g1": h}, min_genome_fraction=0.75)
    assert ok


def test_chimeric_contig_fails_the_run():
    g, h = _genome(1), _genome(2)
    ok, m = verify.verify_contigs({"c": g[-400:] + h[:400]}, {"g0": g, "g1": h})
    assert not ok and m["misassembled_contigs"] == 1


def _corpus():
    docs, truth = gen.corpus(seed=3, n_docs=400)
    return dict(docs), truth


def _ideal_kept(texts, truth):
    drop = {max(g) for g in truth["exact_groups"] + truth["near_groups"]}
    return [i for i in texts if i not in drop]


def test_ideal_dedup_passes():
    texts, truth = _corpus()
    ok, m = verify.verify_corpus(_ideal_kept(texts, truth), texts, truth, min_near_dup_recall=0.9)
    assert ok
    assert m["exact_dups_left"] == 0
    assert m["near_dup_recall"] == 1.0
    assert m["uniques_dropped"] == 0


def test_injected_duplicate_fails_the_run():
    texts, truth = _corpus()
    kept = _ideal_kept(texts, truth) + [max(truth["exact_groups"][0])]
    ok, m = verify.verify_corpus(kept, texts, truth)
    assert not ok
    assert m["exact_dups_left"] == 1


def test_dropped_unique_fails_the_run():
    texts, truth = _corpus()
    grouped = {i for g in truth["exact_groups"] + truth["near_groups"] for i in g}
    unique = next(i for i in texts if i not in grouped)
    kept = [i for i in _ideal_kept(texts, truth) if i != unique]
    ok, m = verify.verify_corpus(kept, texts, truth)
    assert not ok and m["uniques_dropped"] == 1


def test_missed_near_duplicates_fail_the_run():
    texts, truth = _corpus()
    missed = {max(g) for g in truth["near_groups"][: len(truth["near_groups"]) // 5]}
    kept = _ideal_kept(texts, truth) + sorted(missed)
    ok, m = verify.verify_corpus(kept, texts, truth, min_near_dup_recall=0.9)
    assert not ok
    assert m["exact_dups_left"] == 0 and m["near_dup_recall"] < 0.9


def test_planted_copies_match_their_sources():
    texts, truth = _corpus()
    for a, b in truth["exact_groups"]:
        assert verify.normalize(texts[a]) == verify.normalize(texts[b])
        assert texts[a] != texts[b]
    for a, b in truth["near_groups"]:
        assert verify.normalize(texts[a]) != verify.normalize(texts[b])


def test_generators_are_seeded():
    assert gen.isolate(5, 2000, 10) == gen.isolate(5, 2000, 10)
    assert gen.isolate(5, 2000, 10) != gen.isolate(6, 2000, 10)
    assert gen.corpus(5, 200) == gen.corpus(5, 200)


def test_reads_carry_the_planted_error_rate():
    rng = np.random.default_rng(0)
    g = _genome(n=5000)
    reads = gen.simulate_reads(rng, g, coverage=20, rc_prob=0.0)
    rgen = np.random.default_rng(0)
    starts = rgen.integers(0, len(g) - 100 + 1, len(reads))
    mism = sum(
        sum(a != b for a, b in zip(r, g[s : s + 100])) for r, s in zip(reads, starts)
    )
    rate = mism / (100 * len(reads))
    assert 0.003 < rate < 0.007


def test_no_two_reads_share_a_substitution():
    g = _genome(n=2000)
    reads = gen.simulate_reads(np.random.default_rng(1), g, coverage=200, rc_prob=0.0)
    starts = np.random.default_rng(1).integers(0, len(g) - 100 + 1, len(reads))
    errors = [
        (s + j, b) for r, s in zip(reads, starts) for j, b in enumerate(r) if b != g[s + j]
    ]
    assert len(errors) > 500
    assert len(set(errors)) == len(errors)


def test_benchmark_json_lists_the_traced_metrics():
    import json
    import os

    import layers

    path = os.path.join(os.path.dirname(__file__), os.pardir, "BENCHMARK.json")
    with open(path) as f:
        declared = json.load(f)["per_layer"]
    assert [m["name"] for m in declared] == layers.metric_names()
    assert [m["unit"] for m in declared] == [layers.unit(n) for n in layers.metric_names()]
