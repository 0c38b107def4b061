"""Local replica of the driver's DuckDB-oracle comparison (SURVEY.md §6).

For each registered query with an oracle: run the Spark DataFrame and the
DuckDB SQL over the same parquet, then compare

  1. row count,
  2. schema (sorted column names),
  3. order-insensitive value hash (rows stringified canonically, sorted).

This is intentionally *stricter about value canonicalization* than any
reasonable driver: floats are compared by repr of round(x, 9)-ish
canonical form, timestamps by ISO string, Decimals normalized — if this
passes, a hash over python values passes too.

Usage:  python tools/parity.py [sf_dir] [key ...]
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os
import sys
from dataclasses import dataclass

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from trafficteach_spark import registry, schemas  # noqa: E402
from trafficteach_spark.session import cache_scope, get_spark  # noqa: E402


def _canon(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 9)
        return repr(0.0 if r == 0 else r)  # normalize -0.0
    if isinstance(v, decimal.Decimal):
        r = round(float(v), 9)
        return repr(0.0 if r == 0 else r)
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _hash_rows(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(_canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class Result:
    key: str
    ok: bool
    detail: str


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in schemas.TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):  # a table written as a directory of part files
            path = os.path.join(path, "*.parquet")
        if name == "events":
            # Pin the oracle's ts to the engine's MICROsecond grain
            # (round-12 review finding): the events parquet is
            # TIMESTAMP(NANOS), which DuckDB 1.0 truncates to us at read
            # (this expression is then a no-op) but DuckDB >= 1.1 reads
            # as TIMESTAMP_NS at full ns precision — every ts-ordered /
            # ts-gap oracle (q85 keep-sets, q22/q106 session edges)
            # would then see sub-us residue Spark's loader floor-
            # truncates away. Integer `//` keeps the epoch arithmetic
            # exact (a double division is lossy above 2^53 ns); the
            # post-epoch testdata makes trunc-vs-floor moot.
            con.execute(
                f"CREATE VIEW {name} AS SELECT event_id, "
                "make_timestamp(epoch_ns(ts) // 1000) AS ts, "
                "user_id, event_type, value, props "
                f"FROM read_parquet('{path}')"
            )
        else:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def check(spark, con, key: str, sf_dir: str) -> Result:
    spec = registry.all_specs()[key]
    sdf = spec.fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    if spec.oracle is None:
        return Result(key, True, f"rows-only: {len(s_rows)} rows (no oracle)")

    cur = con.execute(spec.oracle)
    d_cols = [d[0] for d in cur.description]
    d_rows = [tuple(r) for r in cur.fetchall()]

    if sorted(s_cols) != sorted(d_cols):
        return Result(key, False, f"schema mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")

    # Dtype-kind guard: DuckDB fetchall() returns SUM(BIGINT) (HUGEINT)
    # as plain Python int, so the value hash below would pass even
    # though a pandas-based harness sees float64 vs int64 and records a
    # mismatch (caught live on q186/q188: COALESCE/SUM of BIGINT needs
    # CAST ... AS BIGINT in the oracle). Flag any column where Spark
    # declares an integer type but a null-free DuckDB column converts
    # to float in pandas (NULL-bearing int columns float-ify on BOTH
    # sides — q53's rollup total row — so those are exempt).
    s_int_cols = {
        f.name
        for f in sdf.schema.fields
        if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
    }
    d_pdf = con.execute(spec.oracle).df()
    for c in d_pdf.columns:
        if (
            c in s_int_cols
            and str(d_pdf[c].dtype).startswith("float")
            and not d_pdf[c].isna().any()
        ):
            return Result(
                key,
                False,
                f"dtype-kind mismatch on {c!r}: spark int vs duckdb "
                "float-in-pandas (HUGEINT? add CAST(... AS BIGINT) to the oracle)",
            )
    if len(s_rows) != len(d_rows):
        return Result(key, False, f"row count: spark={len(s_rows)} duckdb={len(d_rows)}")
    hs, hd = _hash_rows(s_cols, s_rows), _hash_rows(d_cols, d_rows)
    if hs != hd:
        # Differing rows for debugging — MULTISET diff (Counter), not a
        # set diff: a divergence that differs only in duplicate-row
        # multiplicity would otherwise report a confirmed mismatch with
        # empty only-spark/only-duckdb samples, sending the debugger
        # after a phantom canonicalization bug (round-6 review finding).
        from collections import Counter

        order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
        cnt_s = Counter("\x01".join(_canon(r[i]) for i in order_s) for r in s_rows)
        cnt_d = Counter("\x01".join(_canon(r[i]) for i in order_d) for r in d_rows)
        only_s = [
            f"{row!r} x{n}" for row, n in list((cnt_s - cnt_d).items())[:3]
        ]
        only_d = [
            f"{row!r} x{n}" for row, n in list((cnt_d - cnt_s).items())[:3]
        ]
        return Result(
            key,
            False,
            f"value hash mismatch\n  only-spark: {only_s}\n  only-duckdb: {only_d}",
        )
    return Result(key, True, f"{len(s_rows)} rows hash-match")


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    keys = args[1:] if args and os.path.isdir(args[0]) else args
    specs = registry.all_specs()
    keys = keys or sorted(specs)
    spark = get_spark("parity")
    con = duckdb_conn(sf_dir)
    failed = 0
    for key in keys:
        if key not in specs:
            print(f"?? {key}: unknown key")
            failed += 1
            continue
        try:
            # cache_scope: each query's intra-query persists are dropped
            # after its rows are collected (registry caching contract).
            with cache_scope(spark):
                res = check(spark, con, key, sf_dir)
        except Exception as exc:  # noqa: BLE001
            res = Result(key, False, f"EXCEPTION: {type(exc).__name__}: {exc}")
        print(f"{'OK' if res.ok else 'FAIL'} {key}: {res.detail}")
        failed += 0 if res.ok else 1
    print(f"\n{len(keys) - failed}/{len(keys)} passed at {sf_dir}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
