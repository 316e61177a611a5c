"""Local replica of the driver's correctness gate.

Runs every queries()[name] in Spark and the matching oracle_sql()
in DuckDB on the same parquet tables, then compares row count, column
names, and values TWICE: order-insensitive (rows sorted by all
columns) AND order-sensitive (rows in returned order, columns sorted
by name — the driver's hash is order-sensitive, which is how round 4
shipped three locally-green queries that hash-FAILED at the driver
when NULL sort keys ordered differently between Spark and DuckDB).
Either divergence is a FAIL. Reports exact and approximate (1e-9)
match status so float-hash risk is visible before the driver runs.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def assert_duckdb_idioms():
    """Abort loudly if this DuckDB build diverges from the pinned
    oracle assumptions (README "Oracle environment"): hex-string
    casts and NULLS LAST defaults. A silent change here would show up
    as inscrutable value drift across dozens of md5-bucketed queries."""
    con = duckdb.connect()
    hex_ok = con.execute("SELECT CAST('0x1f' AS BIGINT)").fetchone()[0] == 31
    nulls = con.execute(
        "SELECT list(x) FROM (SELECT x FROM (VALUES (2), (NULL), (1)) "
        "t(x) ORDER BY x) s"
    ).fetchone()[0]
    con.close()
    if not hex_ok or nulls != [1, 2, None]:
        raise SystemExit(
            f"DuckDB {duckdb.__version__} breaks a pinned oracle idiom "
            f"(hex cast ok={hex_ok}, asc order={nulls}); the oracle "
            "pairs were developed against DuckDB 1.0.0 — see README "
            "'Oracle environment & NULL robustness'."
        )


class OracleTimeout(Exception):
    """DuckDB leg exceeded the per-query budget (sf1+ sweeps only)."""


def duck_run(sql: str, sf_dir: str, want_df=False, timeout: float = 0.0):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    timer = None
    fired = []
    _closing = []
    _lock = None
    if timeout > 0:
        # interrupt the oracle from a watchdog thread: large-sf sweeps
        # must degrade a quadratic DuckDB heavy to a documented
        # rows-only record, not hang the whole gate.
        import threading

        _lock = threading.Lock()

        def _kill():
            # timer.cancel() cannot stop a callback that already
            # started; the lock + _closing flag guarantee interrupt
            # never races con.close() (round-9 ADVICE).
            with _lock:
                if _closing:
                    return
                fired.append(True)
                con.interrupt()

        timer = threading.Timer(timeout, _kill)
        timer.start()
    try:
        rel = con.sql(sql)
        cols = rel.columns
        if want_df:
            # .df() is how a pandas-level harness materializes the
            # oracle — it converts HUGEINT (DuckDB's SUM-over-integer
            # result) and NULL-bearing integer columns to float64,
            # unlike fetchall().
            df = rel.df()
            return cols, df
        rows = rel.fetchall()
        return cols, rows
    except duckdb.Error as e:
        if fired:
            raise OracleTimeout(f"oracle exceeded {timeout:.0f}s budget")
        if "No space left on device" in str(e):
            # same budget class as the timeout: a quadratic/recursive
            # oracle that spills past the machine's free disk is
            # infeasible AT THIS SCALE, not wrong (graph_kcore_peel's
            # recursive CTE spills >79 GB at sf1) — degrade to a
            # documented rows-only record
            raise OracleTimeout("oracle exceeded the disk budget "
                                "(DuckDB temp spill filled the device)")
        raise e
    finally:
        if timer is not None:
            timer.cancel()
            with _lock:
                _closing.append(True)
        con.close()


def pandas_hash(df):
    """The driver-equivalent value hash: columns sorted by name, rows
    in returned order, values as pandas renders them (dtype-sensitive
    for int-vs-float: a DuckDB HUGEINT SUM becomes float64 '99111.0'
    while Spark's bigint stays '99111' — round-5's five driver-only
    hash failures were exactly this class). Catch it locally."""
    import hashlib

    df = df[sorted(df.columns)]
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest()


def normalize(rows, colnames, keep_order=False):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        out.append(tuple(row[i] for i in order))
    if keep_order:
        return sorted(colnames), out
    return sorted(colnames), sorted(out, key=lambda r: tuple(str(x) for x in r))


def values_equal(a, b, tol=0.0):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, (float, int)):
        if math.isnan(a) and math.isnan(float(b)):
            return True
        return abs(a - float(b)) <= tol * max(1.0, abs(a))
    return str(a) == str(b)


def compare(spark_rows, spark_cols, duck_rows, duck_cols):
    sc, srows = normalize(spark_rows, spark_cols)
    dc, drows = normalize(duck_rows, duck_cols)
    problems = []
    if sc != dc:
        problems.append(f"SCHEMA: spark={sc} duck={dc}")
        return problems, False
    if len(srows) != len(drows):
        problems.append(f"ROWCOUNT: spark={len(srows)} duck={len(drows)}")
        return problems, False
    exact = True
    approx = True
    for i, (sr, dr) in enumerate(zip(srows, drows)):
        for j, (sv, dv) in enumerate(zip(sr, dr)):
            if not values_equal(sv, dv, 0.0):
                exact = False
                if not values_equal(sv, dv, 1e-9):
                    approx = False
                    if len(problems) < 5:
                        problems.append(
                            f"VALUE row {i} col {sc[j]}: spark={sv!r} duck={dv!r}"
                        )
    if exact:
        # multisets agree bit-exactly; now replay the driver's
        # ORDER-SENSITIVE hash: rows in returned order
        _, so = normalize(spark_rows, spark_cols, keep_order=True)
        _, do = normalize(duck_rows, duck_cols, keep_order=True)
        for i, (sr, dr) in enumerate(zip(so, do)):
            if any(not values_equal(a, b, 0.0) for a, b in zip(sr, dr)):
                return [
                    "ORDER-DRIFT (values match but row order differs — "
                    f"driver hash would FAIL): first at row {i}: "
                    f"spark={sr!r} duck={dr!r}"
                ], False
        return [], True
    if approx:
        problems.insert(0, "INEXACT-BUT-CLOSE (hash would FAIL)")
    return problems, False


def main():
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    duck_timeout = 0.0
    if "--duck-timeout" in args:
        i = args.index("--duck-timeout")
        duck_timeout = float(args[i + 1])
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    record: dict[str, dict] = {}
    assert_duckdb_idioms()

    import __spark_entry__ as entrymod
    from nbody6_data_pipeline_spark.session import get_spark

    spark = get_spark("check_oracle")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = 0
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # persist so the (often expensive) Spark plan executes ONCE
            # and both comparison legs — collect here, toPandas in the
            # driver-equivalent hash leg below — read the cached rows
            sdf = fn(spark, sf_dir).persist()
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"spark: {e}"[:300]}
            n_fail += 1
            spark.catalog.clearCache()  # drop the orphaned persist()
            continue
        if name not in oracles:
            print(f"SKIP {name}: rows-only ({len(spark_rows)} rows, "
                  f"{time.time()-t0:.1f}s)")
            # rows_match is None, not True: the query RAN but was
            # never compared against an oracle, and the artifact must
            # say so (round-9 ADVICE — a trivially-true rows_match
            # read as verification).
            record[name] = {"rows_match": None,
                            "schema_match": None, "hash_match": None,
                            "spark_rows": len(spark_rows), "err": None,
                            "note": "rows-only (no oracle)"}
            sdf.unpersist()
            continue
        try:
            duck_cols, duck_rows = duck_run(
                oracles[name], sf_dir, timeout=duck_timeout
            )
        except OracleTimeout as e:
            print(f"SKIP {name}: {e}; rows-only "
                  f"({len(spark_rows)} Spark rows, {time.time()-t0:.1f}s)")
            record[name] = {"rows_match": None,
                            "schema_match": None, "hash_match": None,
                            "spark_rows": len(spark_rows), "err": None,
                            "note": f"rows-only ({e})"}
            sdf.unpersist()
            continue
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            record[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "err": f"duckdb: {e}"[:300]}
            n_fail += 1
            sdf.unpersist()
            continue
        problems, ok = compare(spark_rows, spark_cols, duck_rows, duck_cols)
        if ok:
            # driver-equivalent pandas-level hash (dtype-sensitive).
            # DuckDB deliberately executes a second time here: fetchall
            # (exact Python ints, HUGEINT-safe) and .df() (float64
            # HUGEINT rendering — the driver's view) are DIFFERENT value
            # paths, and collapsing one into the other would blind this
            # leg to exactly the dtype-drift class it exists to catch.
            # The Spark side is served from the persist() above.
            try:
                _, duck_df = duck_run(
                    oracles[name], sf_dir, want_df=True,
                    timeout=duck_timeout * 2,
                )
                spark_df = sdf.toPandas()
                if pandas_hash(spark_df) != pandas_hash(duck_df):
                    dtypes_s = {c: str(spark_df[c].dtype) for c in spark_df.columns}
                    dtypes_d = {c: str(duck_df[c].dtype) for c in duck_df.columns}
                    diff = {
                        c: (dtypes_s.get(c), dtypes_d.get(c))
                        for c in dtypes_s
                        if dtypes_s.get(c) != dtypes_d.get(c)
                    }
                    problems = [
                        "PANDAS-HASH (driver-equivalent) mismatch — "
                        f"dtype drift: {diff or 'value rendering'}"
                    ]
                    ok = False
            except Exception as e:  # pragma: no cover - diagnostic only
                problems = [f"pandas-hash leg error: {e}"]
                ok = False
        sdf.unpersist()
        record[name] = {
            "rows_match": len(spark_rows) == len(duck_rows),
            "schema_match": sorted(spark_cols) == sorted(duck_cols),
            "hash_match": ok,
            "spark_rows": len(spark_rows),
            "oracle_rows": len(duck_rows),
            "err": "; ".join(problems) or None,
        }
        if ok:
            print(f"PASS {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL {name}:")
            for p in problems:
                print(f"  {p}")
            n_fail += 1
    # count rows-only from the records actually written: covers BOTH
    # no-oracle queries and oracle-timeout degradations (round-9
    # ADVICE — the old len(qs)-len(oracles) omitted timeouts).
    n_rows_only = sum(
        1 for r in record.values()
        if str(r.get("note", "")).startswith("rows-only")
    )
    print(f"\n{n_pass} passed, {n_fail} failed, {n_rows_only} rows-only")
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
