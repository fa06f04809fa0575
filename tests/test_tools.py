"""tools/: every script imports and has a ``main``; ``perf.py``'s output
digest, pair schedule and override parsing."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def perf():
    return _load(TOOLS / "perf.py")


@pytest.mark.parametrize("path", sorted(TOOLS.glob("*.py")), ids=lambda p: p.name)
def test_tool_imports_and_has_main(path, monkeypatch):
    # a script sees its own argv at import, and may put the repo on sys.path
    monkeypatch.setattr(sys, "argv", [str(path)])
    monkeypatch.setattr(sys, "path", list(sys.path))
    assert callable(_load(path).main)


def test_digest_ignores_partitioning_and_order_not_values(spark, perf):
    schema = "id long, s string, x double"
    rows = [(i, f"s{i % 7}", i / 3.0) for i in range(200)] + [(1, "s1", 1 / 3.0)]
    one = perf.digest(spark.createDataFrame(rows, schema).coalesce(1))
    four = spark.createDataFrame(rows[::-1], schema).repartition(4)
    assert four.rdd.getNumPartitions() == 4
    assert perf.digest(four) == one
    assert one.startswith("201:")

    changed = list(rows)
    changed[50] = (50, "other", 50 / 3.0)
    assert perf.digest(spark.createDataFrame(changed, schema)) != one
    # repeated rows do not cancel out: two copies of one row differ from
    # two copies of another, at the same row count
    base = rows[:10]
    twice = [perf.digest(spark.createDataFrame(base + [r, r], schema)) for r in rows[20:22]]
    assert twice[0] != twice[1]


def test_pairs_alternate_which_arm_runs_first(perf):
    orders = perf.pair_orders(4)
    assert orders == [("a", "b"), ("b", "a"), ("a", "b"), ("b", "a")]
    assert [o[0] for o in perf.pair_orders(6)].count("a") == 3


def test_override_values_parse_to_int_float_or_string(perf):
    gate = "reflexiv_spark.operators.extension._LOOP_BCAST_BYTES"
    assert perf.parse_override(f"{gate}=-1") == (
        "reflexiv_spark.operators.extension",
        "_LOOP_BCAST_BYTES",
        -1,
    )
    _, _, big = perf.parse_override(f"{gate}=4611686018427387904")
    assert big == 1 << 62 and isinstance(big, int)
    _, _, frac = perf.parse_override("m.x=0.25")
    assert frac == 0.25 and isinstance(frac, float)
    assert perf.parse_override("m.x=1e3")[2] == 1000.0
    assert perf.parse_override("pkg.mod.name=rank") == ("pkg.mod", "name", "rank")
    assert perf.parse_override("m.x=a=b")[2] == "a=b"
    for bad in ("m.x", "attr=1", ".x=1", "m.=1"):
        with pytest.raises(ValueError):
            perf.parse_override(bad)
