#!/usr/bin/env python3
"""Compare two graft.Verify output directories, query by query.

Usage: python3 tools/compare_verify.py <dirA> <dirB>

For a change that must not move any result (a refactor, a catalog move, a
kernel swap), run `graft.Verify` on both sides at the same scale factor and
compare the dumps:

  - <dir>/oracle_sql.json must be byte-identical (`cmp`);
  - every query's parquet output (<dir>/<query>/*.parquet, one file per query
    since Verify coalesces to one partition) must be equal under pyarrow
    `Table.equals`: same schema, same rows in the same order;
  - a query present on one side only counts as a difference.

Prints one line per differing query and a summary line; exits 1 on any
difference, 0 when everything is equal.
"""
import filecmp
import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def _queries(d: str) -> set:
    return {n for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n)) and glob.glob(
                os.path.join(d, n, "*.parquet"))}


def _read(d: str, name: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(d, name, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files])


def main(a: str, b: str) -> int:
    diffs = []
    sql_a, sql_b = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if not (os.path.isfile(sql_a) and os.path.isfile(sql_b)
            and filecmp.cmp(sql_a, sql_b, shallow=False)):
        diffs.append("oracle_sql.json: missing or not byte-identical")
    qa, qb = _queries(a), _queries(b)
    for name in sorted(qa ^ qb):
        diffs.append(f"{name}: only in {a if name in qa else b}")
    same = 0
    for name in sorted(qa & qb):
        ta, tb = _read(a, name), _read(b, name)
        if ta.equals(tb):
            same += 1
        elif ta.schema != tb.schema:
            diffs.append(f"{name}: schema {ta.schema} != {tb.schema}")
        else:
            diffs.append(f"{name}: {ta.num_rows} vs {tb.num_rows} rows, "
                         "values differ")
    for d in diffs:
        print(f"DIFF {d}")
    print(f"{same}/{len(qa | qb)} query outputs equal; "
          f"{len(diffs)} difference(s)")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
