"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an oracle exists,
the matching DuckDB SQL over the same parquet tables; compares row
count, column names/types-loosely, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified with float
normalization). Mirrors the driver contract described in
__spark_entry__.py.

Usage: python tools/check_correctness.py [--strict] [--json OUT.json]
       [sf_dir] [query ...]

``--strict`` additionally compares a RAW-stringified value hash (no
float normalization — the driver-hasher model), so output-type
fragility that normalization would mask fails locally first.

``--json`` also persists the per-query records in the driver gate's
CORRECTNESS_r{N}.json shape (rows_match / schema_match / hash_match /
spark_rows / oracle_rows / err) so a full local run is a committable
artifact.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = sys.argv[1:]
JSON_OUT = None
STRICT = False
if _args and _args[0] == "--strict":
    # also hash with RAW stringification (no float normalization) —
    # the driver-hasher model that produced the r4 hash-reds; a query
    # that passes only under normalization fails here first
    STRICT = True
    _args = _args[1:]
if _args and _args[0] == "--json":
    JSON_OUT = _args[1]
    _args = _args[2:]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])

from citation_graph_spark.compare import (  # noqa: E402
    norm_val,
    raw_val,
    table_hash,
    table_hash_raw,
)
from citation_graph_spark.tables import TABLE_NAMES  # noqa: E402


def print_first_diff(rows, cols, orows, ocols, val) -> None:
    """Print the first differing row of the two results, each row
    stringified with ``val`` over name-sorted columns, rows sorted (the
    order the hashes see)."""

    def lines(rs, cs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        return sorted("\x01".join(val(r[i]) for i in order) for r in rs)

    for a, b in zip(lines(rows, cols), lines(orows, ocols)):
        if a != b:
            print(f"      first diff:\n      spark: {a!r}\n      duck : {b!r}")
            return


def main() -> int:
    from citation_graph_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="check-correctness")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )

    failures = []
    records: dict[str, dict] = {}

    def record(name, **kw):
        base = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "oracle": True,  # False = rows-only by design (no SQL oracle);
            # err stays None for those so consumers never read a passing
            # rows-only query as a failure
            "err": None,
        }
        base.update(kw)
        records[name] = base

    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.monotonic()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures.append(name)
            record(name, err=f"spark: {exc}")
            continue
        spark_wall = time.monotonic() - t0
        if name not in oracles:
            print(
                f"ok?   {name}: rows={len(rows)} (rows-only, no oracle)"
                f" [{spark_wall:.1f}s]"
            )
            record(name, spark_rows=len(rows), oracle=False)
            if len(rows) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            ores = con.sql(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures.append(name)
            record(name, spark_rows=len(rows), err=f"duckdb: {exc}")
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount spark={len(rows)} duck={len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols spark={sorted(cols)} duck={sorted(ocols)}")
        if not problems:
            hs, hd = table_hash(rows, cols), table_hash(orows, ocols)
            if hs != hd:
                problems.append(f"valuehash spark={hs} duck={hd}")
                print_first_diff(rows, cols, orows, ocols, norm_val)
        if not problems and STRICT:
            rs = table_hash_raw(rows, cols)
            rd = table_hash_raw(orows, ocols)
            if rs != rd:
                problems.append(
                    f"STRICT rawhash spark={rs} duck={rd} "
                    "(passes only under float normalization — "
                    "driver-fragile output typing)"
                )
                print_first_diff(rows, cols, orows, ocols, raw_val)
        record(
            name,
            rows_match=len(rows) == len(orows),
            schema_match=sorted(cols) == sorted(ocols),
            hash_match=not problems,
            spark_rows=len(rows),
            oracle_rows=len(orows),
        )
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{spark_wall:.1f}s]")
            failures.append(name)
        else:
            print(f"PASS  {name}: rows={len(rows)} [{spark_wall:.1f}s]")

    if JSON_OUT:
        import json

        with open(JSON_OUT, "w") as f:
            json.dump(records, f, indent=2)
        print(f"wrote {JSON_OUT} ({len(records)} queries)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all checked queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
