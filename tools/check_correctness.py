#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry against sf0.01 (Spark) and
its ``oracle_sql()`` twin (DuckDB), then compares row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted,
floats rounded to 9 significant places before hashing).

Usage: python tools/check_correctness.py [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)
# SPARK_GRAFT_CHECK_SF overrides for scale spot-checks (e.g. the scaled
# sf1.0 under .scaled/ — overflow/precision/skew bugs can be
# scale-dependent, so the sf0.01 gate alone is not enough)
import os

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")


def _norm_cell(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return str(v)


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    import __spark_entry__ as ent
    from reflexiv_spark.session import get_spark

    only = set(sys.argv[1:])
    # comma-separated queries to skip in a sweep at scale
    # (SPARK_GRAFT_CHECK_SF): the quadratic-by-design verification oracles
    # DuckDB cannot finish there (EXCLUDE_DUCK in tools/measure_sf1.py;
    # tools/sample_oracle_sf1.py checks sampled rows of such queries)
    exclude = set(
        filter(None, os.environ.get("SPARK_GRAFT_CHECK_EXCLUDE", "").split(","))
    )
    qs = ent.queries()
    oracles = ent.oracle_sql()

    con = duckdb.connect()
    # fail fast instead of thrashing the box when a quadratic-by-design
    # verification oracle is run at a scale it cannot handle (the sf1.0
    # sweep found ngram_jaccard's all-pairs oracle at 81 GB RSS and
    # climbing) — a clean out-of-memory error is recorded as FAIL/err
    con.execute(
        "SET memory_limit = '"
        + os.environ.get("SPARK_GRAFT_DUCK_MEM", "24GB")
        + "'"
    )
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    spark = get_spark(app_name="check-correctness", shuffle_partitions=16)
    failures = []
    skipped = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in exclude:
            print(f"SKIP {name}: excluded (SPARK_GRAFT_CHECK_EXCLUDE)")
            skipped.append(name)
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"schema spark={sorted(scols)} oracle={sorted(ocols)}")
        if not problems:
            sh, oh = _hash_rows(scols, srows), _hash_rows(ocols, orows)
            if sh != oh:
                problems.append(
                    f"value-hash mismatch (spark={sh} oracle={oh})"
                )
                sset = {
                    "\x01".join(
                        _norm_cell(r[i])
                        for i in sorted(range(len(scols)), key=lambda i: scols[i])
                    )
                    for r in srows
                }
                oset = {
                    "\x01".join(
                        _norm_cell(r[i])
                        for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                    )
                    for r in orows
                }
                for d in list(sset - oset)[:3]:
                    problems.append(f"  spark-only: {d[:160]}")
                for d in list(oset - sset)[:3]:
                    problems.append(f"  oracle-only: {d[:160]}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"OK   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")

    # summary is self-describing: a sweep capture must show WHAT was
    # excluded, not just a green count (ADVICE r7 — '78/84 green' can
    # overstate coverage when the exclusion list isn't alongside it)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if skipped:
        print(f"{len(skipped)} skipped (SPARK_GRAFT_CHECK_EXCLUDE): {sorted(skipped)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
