#!/usr/bin/env python3
"""Record the stored output digests in ``digests.json``, each checked once
against the query's DuckDB twin in ``registry.ORACLES``.

    python3 perfbench/make_digests.py 0.01 0.001

For a query with a twin, the Spark result and the DuckDB result must have
the same digest, or the query is reported and nothing is written. A query
without a twin (``vec_ivf_search``) is checked on its row count and columns
only. At the scale a run reads (``run.BENCH_SF``) every query must return
rows, since an empty digest would pass an engine that wrongly returns
nothing; the smaller smoke-test scale only exercises the benchmark's code.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(sfs: list[float]) -> int:
    import run

    tmp = os.path.join(ROOT, ".bench_build", "run", f"digests-{os.getpid()}")
    os.makedirs(tmp)
    run._environment(tmp)
    import duckdb

    import fixture
    import workloads as W
    from digest import digest

    from apache_flink_essentials_spark import get_spark, registry
    from apache_flink_essentials_spark.schemas import ALL_TABLES

    path = os.path.join(HERE, "digests.json")
    stored = {}
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
    spark = get_spark()
    bad = 0
    try:
        for sf in sfs:
            sf_dir = fixture.batch_fixture(sf, os.path.join(ROOT, ".bench_build", "fixture"))
            con = duckdb.connect()
            for t in ALL_TABLES:
                p = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            out = {}
            for q in W.FLINK_CORE + W.DEDUP_HEAVY:
                df = registry.QUERIES[q](spark, sf_dir)
                got = digest(df.columns, (tuple(r) for r in df.collect()))
                sql = registry.ORACLES.get(q)
                if sql is not None:
                    rel = con.sql(sql)
                    want = digest(rel.columns, rel.fetchall())
                    if got != want:
                        bad += 1
                        print(f"MISMATCH sf{sf:g} {q}: spark {got} duckdb {want}")
                        continue
                else:
                    got["hash"] = None  # rows only
                if got["rows"] == 0 and sf == run.BENCH_SF:
                    bad += 1
                    print(f"EMPTY sf{sf:g} {q}: a 0-row result cannot check the query")
                    continue
                out[q] = got
                print(f"sf{sf:g} {q}: {got['rows']} rows"
                      + ("" if sql else " (no twin: rows only)"), flush=True)
            stored[f"sf{sf:g}"] = out
    finally:
        run._stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    if bad:
        print(f"{bad} queries refused; digests.json not written")
        return 1
    with open(path, "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main([float(a) for a in sys.argv[1:]] or [0.01, 0.001]))
