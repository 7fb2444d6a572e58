"""Local parity harness mimicking the driver's correctness gate:

runs each ``queries()[name]`` on Spark and the matching ``oracle_sql()[name]``
on DuckDB over the same parquet tables, compares row count, column names,
**column types** (canonicalized across the Spark/Arrow type systems), and
order-insensitive values (columns sorted by name, rows sorted, floats
rounded to 6 sig-decimals, everything stringified).

The type comparison exists because the driver hashes *typed* values: a
DuckDB integer ``sum()`` returns HUGEINT (int128) while Spark returns
BIGINT — identical values, different hash. Round 1 and 2 both shipped
"fixes" that the driver rejected because the old parity harness
stringified values and never saw the type divergence (VERDICT r2 item 2).

Usage:
  python tools/parity.py [sf_dir] [query ...]   # full Spark-vs-DuckDB parity
  python tools/parity.py --lint [sf_dir]        # DuckDB-only oracle type lint:
                                                # fails on HUGEINT/INT128/UHUGEINT
                                                # output columns (no Spark startup)
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mbgspark.io import TESTDATA_TABLES
from mbgspark.session import get_spark


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        # a table may be a single FILE or a DIRECTORY of part files (the
        # 100 TB shape; tools/make_split.py builds it) — Spark reads both
        # through the same path, DuckDB needs the glob for directories
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(rows: list[tuple], cols: list[str]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = f"{v:.6f}"
            vals.append(str(v))
        out.append(tuple(vals))
    return [cols[i] for i in order], sorted(out)


def norm_spark_type(dt: str) -> str:
    """Spark simpleString dtype -> canonical token shared with norm_arrow_type.

    All signed machine-int widths collapse to one token: the driver's hash
    is insensitive to i32-vs-i64 (r2 evidence: spend_quartiles ntile() i32
    vs DuckDB i64 was hash-green) but NOT to HUGEINT/decimal128, which
    stays a distinct token."""
    dt = dt.strip().lower()
    flat = {
        "bigint": "int",
        "long": "int",
        "int": "int",
        "integer": "int",
        "smallint": "int",
        "tinyint": "int",
        "double": "f64",
        "float": "f32",
        "string": "str",
        "boolean": "bool",
        "date": "date",
        "binary": "bin",
        "void": "null",
    }
    if dt in flat:
        return flat[dt]
    if dt.startswith("timestamp"):
        return "ts"
    if dt.startswith("decimal"):
        return "dec" + dt[len("decimal"):].replace(" ", "")
    if dt.startswith("array<") and dt.endswith(">"):
        return "list<" + norm_spark_type(dt[6:-1]) + ">"
    return dt


def norm_arrow_type(t) -> str:
    """pyarrow DataType -> canonical token shared with norm_spark_type."""
    import pyarrow.types as pat

    if pat.is_integer(t):
        return "int"
    if pat.is_float64(t):
        return "f64"
    if pat.is_float32(t):
        return "f32"
    if pat.is_string(t) or pat.is_large_string(t):
        return "str"
    if pat.is_boolean(t):
        return "bool"
    if pat.is_date(t):
        return "date"
    if pat.is_timestamp(t):
        return "ts"
    if pat.is_decimal(t):
        return f"dec({t.precision},{t.scale})"
    if pat.is_list(t) or pat.is_large_list(t):
        return "list<" + norm_arrow_type(t.value_type) + ">"
    if pat.is_binary(t) or pat.is_large_binary(t):
        return "bin"
    if pat.is_null(t):
        return "null"
    return str(t)


BAD_DUCK_TYPES = ("HUGEINT", "UHUGEINT", "INT128")


def lint_oracles(sf_dir: str, only: set[str]) -> int:
    """DuckDB-only sweep: DESCRIBE every oracle and reject output columns whose
    type has no Spark equivalent (HUGEINT etc. — the driver-hash killers)."""
    from mbgspark.plans.catalog import CATALOG

    con = duck_connection(sf_dir)
    failures = []
    n_checked = 0
    for name, (_builder, sql) in CATALOG.items():
        if only and name not in only:
            continue
        if sql is None:
            continue
        n_checked += 1
        try:
            rows = con.execute(f"DESCRIBE ({sql.rstrip().rstrip(';')})").fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: describe error: {e}")
            failures.append(name)
            continue
        bad = [
            (cname, ctype)
            for cname, ctype, *_ in rows
            if any(b in ctype.upper() for b in BAD_DUCK_TYPES)
        ]
        if bad:
            print(f"FAIL {name}: un-Spark-able oracle output types {bad} "
                  f"(cast to BIGINT in the SQL)")
            failures.append(name)
    print()
    if failures:
        print(f"lint: {len(failures)}/{n_checked} oracles FAIL: {failures}")
        return 1
    print(f"lint: all {n_checked} oracles have Spark-representable output types")
    return 0


def main() -> int:
    argv = sys.argv[1:]
    lint = "--lint" in argv
    argv = [a for a in argv if a != "--lint"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    if lint:
        return lint_oracles(sf_dir, only)
    from mbgspark.plans.catalog import CATALOG

    spark = get_spark("parity")
    con = duck_connection(sf_dir)
    failures = []
    for name, (builder, sql) in CATALOG.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = builder(spark, sf_dir)
            scols = sdf.columns
            stypes = [norm_spark_type(t) for _, t in sdf.dtypes]
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if sql is None:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            if not srows:
                print(f"  WARN {name}: empty result")
            continue
        try:
            tbl = con.execute(sql).fetch_arrow_table()
            dcols = list(tbl.column_names)
            dtypes = [norm_arrow_type(f.type) for f in tbl.schema]
            if tbl.num_rows:
                drows = list(zip(*[c.to_pylist() for c in tbl.columns]))
            else:
                drows = []
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        sc, sr = canon(srows, scols)
        dc, dr = canon(drows, dcols)
        sorder = sorted(range(len(scols)), key=lambda i: scols[i])
        dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
        st = [stypes[i] for i in sorder]
        dt = [dtypes[i] for i in dorder]
        status = []
        if sc != dc:
            status.append(f"cols spark={sc} duck={dc}")
        elif st != dt:
            mism = [
                f"{c}: spark={a} duck={b}"
                for c, a, b in zip(sc, st, dt)
                if a != b
            ]
            status.append(f"types differ ({'; '.join(mism)})")
        if len(sr) != len(dr):
            status.append(f"rowcount spark={len(sr)} duck={len(dr)}")
        if not status and sr != dr:
            diffs = [
                (a, b) for a, b in zip(sr, dr) if a != b
            ][:3]
            status.append(f"values differ, first diffs: {diffs}")
        if status:
            print(f"FAIL {name}: " + "; ".join(status))
            failures.append(name)
        else:
            print(f"PASS {name} ({len(sr)} rows, {time.time()-t0:.1f}s)")
    print()
    if failures:
        print(f"{len(failures)} FAILURES: {failures}")
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
