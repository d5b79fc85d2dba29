"""Local mimic of the driver's correctness gate.

Runs each ``queries()[name]`` on Spark and the paired ``oracle_sql()[name]``
on DuckDB over the same parquet tables, compares row count, column names,
and an order-insensitive value hash. Usage:

    python tools/compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from csv_to_jsonld_processor_spark.session import TABLES, get_spark


def norm_cell(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(sys.argv[2:]) or set(qs)

    spark = get_spark("compare")

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return c

    con = fresh_con()

    failures = 0
    n_run = 0
    for name, fn in qs.items():
        if name not in only:
            continue
        n_run += 1
        if n_run % 25 == 0:
            # long full-registry runs accumulate localCheckpoint RDD
            # blocks and plan caches; without this the driver JVM dies
            # around query ~180 (observed). Dropping persisted state
            # also kills the cross-query memoized DataFrames
            # (kg/queries._EDGES_MEMO, fixture_queries._TRIPLES_MEMO):
            # their checkpoint blocks vanish but the module dicts still
            # hand out the dead plans (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
            # at the next kg_* query, observed at n_run=61 under
            # stale-first rotation order) — clear the memos so the next
            # consumer rebuilds.
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            spark.catalog.clearCache()
            from csv_to_jsonld_processor_spark.kg import queries as _kgq
            from csv_to_jsonld_processor_spark.plans import (
                fixture_queries as _fxq,
            )
            _kgq._EDGES_MEMO.clear()
            _fxq._TRIPLES_MEMO.clear()
            # DuckDB accumulates buffer-pool/metadata across hundreds
            # of oracle executions in the same process as the 16g
            # Spark driver — observed bad-allocation at query ~215;
            # recycling the connection frees it (views re-registered)
            con.close()
            con = fresh_con()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            if name in oracles:
                cur = con.execute(oracles[name])
                ocols = [d[0] for d in cur.description]
                orows = cur.fetchall()
        except Exception as e:
            # one broken query is a failure, not the end of the run
            failures += 1
            msg = (str(e).strip().splitlines() or [""])[0]
            print(f"{name:40s} ERROR {type(e).__name__}: {msg}")
            continue
        if name not in oracles:
            print(f"{name:40s} rows={len(srows):6d} (rows-only check, no oracle)")
            continue
        ok_n = len(srows) == len(orows)
        ok_c = sorted(scols) == sorted(ocols)
        ok_v = value_hash(scols, srows) == value_hash(ocols, orows)
        status = "OK" if (ok_n and ok_c and ok_v) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:40s} {status} rows {len(srows)}/{len(orows)} "
            f"cols={'ok' if ok_c else f'{sorted(scols)} vs {sorted(ocols)}'} hash={'ok' if ok_v else 'MISMATCH'}"
        )
        if not ok_v and ok_n and ok_c:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sset = sorted("|".join(norm_cell(r[i]) for i in order) for r in srows)
            oset = sorted("|".join(norm_cell(r[i]) for i in oorder) for r in orows)
            for a, b in zip(sset, oset):
                if a != b:
                    print(f"  spark : {a}\n  oracle: {b}")
                    break
    print(f"{n_run - failures} of {n_run} queries OK, {failures} failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
