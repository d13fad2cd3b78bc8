#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB over the same parquet tables, compare
row count + column set + order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# executor cores, as in bench.py: set SPARK_GRAFT_CPUS to the host's nproc
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Entries with no value oracle (engine-specific sketch bytes) but a
# QUANTITATIVE local bound (r14 VERDICT item 4): the harness runs an
# exact DuckDB twin and asserts per-key relative error. rel_err = 5
# standard errors at the entry's configured rsd — the same bound the
# pytest pins — so the 50th entry gets a numeric check in the same
# harness instead of a bare rows-only line. (The driver's own gate still
# records no_oracle; this is the stronger local arm.)
BOUNDED = {
    "approx_distinct_users": {
        "sql": (
            "SELECT event_type, count(DISTINCT user_id) AS exact_users "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "key": "event_type",
        "approx_col": "approx_users",
        "rel_err": 0.05,  # 5 std errs, approx_count_distinct rsd=0.01
    },
}


def norm_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def pandas_rows(pdf):
    """Rows from a pandas frame as python-scalar tuples.

    This is the second fetch path the driver may use (arrow/pandas instead
    of fetchall): DuckDB HUGEINT aggregates and all-NULL BIGINT columns
    come back as object/float64 here, so hashing this path beside
    fetchall() catches oracle typing skew (e.g. an uncast sum()) before
    the driver gate sees it.
    """
    import numpy as np

    rows = []
    for tup in pdf.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if isinstance(v, np.generic):
                v = v.item()
            elif isinstance(v, np.ndarray):
                v = [x.item() if isinstance(x, np.generic) else x
                     for x in v.tolist()]
            row.append(v)
        rows.append(tuple(row))
    return rows


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def oracle_connection(sf_dir):
    """DuckDB connection with one view per testdata table of ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _first_diff(srows, scols, orows, ocols):
    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
    order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
    ss = sorted("\x1f".join(norm_value(r[i]) for i in order_s) for r in srows)
    oo = sorted("\x1f".join(norm_value(r[i]) for i in order_o) for r in orows)
    for a, b in zip(ss, oo):
        if a != b:
            return f"first diff:\n    spark : {a[:300]}\n    oracle: {b[:300]}"
    return None


def compare_with_oracle(sdf, con, sql):
    """(Spark row count, problems) of a Spark frame against its DuckDB oracle
    ``sql``. The problems — row count, column set, order-insensitive value
    hash on the fetchall path and on the arrow/pandas path — are strings,
    none when the two match; a hash mismatch also names the first differing
    normalised row."""
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:  # noqa: BLE001 — report, don't mask
        return len(srows), [f"oracle error: {e}"]
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rows spark={len(srows)} oracle={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
    elif (hs := table_hash(srows, scols)) != (ho := table_hash(orows, ocols)):
        problems.append(f"hash spark={hs} oracle={ho}")
        diff = _first_diff(srows, scols, orows, ocols)
        if diff:
            problems.append(diff)
    else:
        # second fetch path: arrow/pandas. A hash that matches on fetchall()
        # but not here means the oracle's output types skew under a pandas
        # fetch (HUGEINT sums, all-NULL BIGINT -> float64).
        try:
            hsp = table_hash(pandas_rows(sdf.toPandas()), scols)
            hop = table_hash(pandas_rows(con.execute(sql).df()), ocols)
            if hsp != hop:
                problems.append(f"pandas-path hash spark={hsp} oracle={hop}")
        except Exception as e:  # noqa: BLE001 — report, don't mask
            problems.append(f"pandas-path error: {e}")
    return len(srows), problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("correctness-check")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = oracle_connection(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if name in oracles:
                n_rows, problems = compare_with_oracle(sdf, con, oracles[name])
            else:
                scols = sdf.columns
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            if name in BOUNDED:
                b = BOUNDED[name]
                exact = {
                    r[0]: r[1] for r in con.execute(b["sql"]).fetchall()
                }
                ki = scols.index(b["key"])
                ai = scols.index(b["approx_col"])
                worst = 0.0
                bad = []
                for r in srows:
                    e = exact.get(r[ki])
                    if e is None or e == 0:
                        bad.append(f"{r[ki]}: no exact twin row")
                        continue
                    rel = abs(r[ai] - e) / e
                    worst = max(worst, rel)
                    if rel > b["rel_err"]:
                        bad.append(
                            f"{r[ki]}: approx={r[ai]} exact={e} "
                            f"rel={rel:.4f} > {b['rel_err']}"
                        )
                if len(srows) != len(exact):
                    bad.append(
                        f"rows spark={len(srows)} exact-twin={len(exact)}"
                    )
                if bad:
                    print(f"FAIL {name}: sketch bound violated: "
                          f"{'; '.join(bad)} [{time.time()-t0:.1f}s]")
                    failures.append(name)
                else:
                    print(f"ok   {name}: {len(srows)} rows, max rel err "
                          f"{worst:.4f} <= {b['rel_err']} (exact-distinct "
                          f"bound) [{time.time()-t0:.1f}s]")
                continue
            print(f"?    {name}: no oracle (rows-only) — {len(srows)} rows "
                  f"[{time.time()-t0:.1f}s]")
            continue
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"ok   {name}: {n_rows} rows [{time.time()-t0:.1f}s]")

    print()
    if failures:
        print(f"{len(failures)} FAILED: {failures}")
        sys.exit(1)
    print("all queries match")


if __name__ == "__main__":
    main()
